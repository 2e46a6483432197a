"""Output checks for the pipeline benchmark.

Every expected value here is computed apart from the engine: SQL in
DuckDB over the generated inputs, or plain Python/numpy over them (the
MinHash-LSH replay re-implements the documented md5 hash family). None
of it calls the graft operators under test.

    check.run(workload, inputs_dir, outputs_dir, params) -> [failure, ...]

An empty list means the outputs are correct.
"""
import glob
import hashlib
import json
import math
import os
import re
import sys

import duckdb
import numpy as np


def run(workload, inputs, outputs, params):
    fails = []
    CHECKS[workload](inputs, outputs, params, fails)
    return fails


def _expect(fails, ok, msg):
    if not ok:
        fails.append(msg)


def _close(a, b, rel=1e-9):
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def _requests(outputs, params, fails):
    """The answers of the last round's timed requests, one per request."""
    with open(os.path.join(outputs, "requests.json")) as f:
        answers = json.load(f)
    _expect(fails, len(answers) == params["requests"],
            f"{len(answers)} request answers, want {params['requests']}")
    return answers


# ------------------------------------------------------------------ #
# etl_star                                                           #
# ------------------------------------------------------------------ #

def check_etl(inputs, outputs, params, fails):
    db = duckdb.connect()
    db.execute("SET TimeZone='UTC'")
    star_in = os.path.join(inputs, "star")
    for t in ("customer", "customer_updates", "nation", "region", "part",
              "orders", "lineitem"):
        db.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                   f"read_parquet('{star_in}/{t}.parquet')")
    out = os.path.join(outputs, "etl")
    star = os.path.join(out, "star")
    for t in ("dim_customer", "dim_part", "dim_date", "fact_lineitem"):
        db.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                   f"read_parquet('{star}/{t}/*.parquet')")
    with open(os.path.join(out, "results.json")) as f:
        res = json.load(f)

    def one(sql):
        return db.execute(sql).fetchone()[0]

    # extract: every feature of every page, with its magnitude
    feats, mags = 0, 0.0
    for p in sorted(glob.glob(os.path.join(inputs, "pages", "*.json"))):
        with open(p) as f:
            for ft in json.load(f)["features"]:
                feats += 1
                mags += ft["properties"]["mag"] or 0.0
    q = db.execute(f"SELECT count(*), coalesce(sum(magnitude), 0) FROM "
                   f"read_parquet('{out}/quakes/*.parquet')").fetchone()
    _expect(fails, res["quake_rows"] == feats == q[0],
            f"extract rows {res['quake_rows']}/{q[0]} != {feats}")
    _expect(fails, _close(q[1], mags, 1e-9), "extract magnitudes differ")

    # star row counts against the raw tables
    want = {
        "dim_customer": one("SELECT count(*) FROM customer"),
        "dim_part": one("SELECT count(*) FROM part"),
        "dim_date": one("SELECT count(DISTINCT CAST(o_orderdate AS DATE)) "
                        "FROM orders"),
        "fact_lineitem": one("SELECT count(*) FROM lineitem l JOIN orders o "
                             "ON l.l_orderkey = o.o_orderkey"),
    }
    for t, n in want.items():
        _expect(fails, res["rows_by_table"].get(t) == n,
                f"{t}: built {res['rows_by_table'].get(t)} rows, want {n}")
    _expect(fails, one("SELECT count(*) FROM fact_lineitem") ==
            want["fact_lineitem"], "fact row count on disk differs")

    # surrogate keys against an independent md5
    for dim, nat, key in (("dim_customer", "c_custkey", "customer_key"),
                          ("dim_part", "p_partkey", "part_key")):
        bad = one(f"SELECT count(*) FROM {dim} WHERE {key} IS DISTINCT FROM "
                  f"substr(md5(CAST({nat} AS VARCHAR)), 1, 12)")
        _expect(fails, bad == 0, f"{dim}: {bad} surrogate keys != md5")
    bad = one("SELECT count(*) FROM fact_lineitem f JOIN lineitem l ON "
              "f.l_orderkey = l.l_orderkey AND f.l_linenumber = "
              "l.l_linenumber WHERE f.part_key IS DISTINCT FROM "
              "substr(md5(CAST(l.l_partkey AS VARCHAR)), 1, 12)")
    _expect(fails, bad == 0, f"fact: {bad} part keys != md5")

    # zero orphan keys, reported and independently counted
    for dim, key in (("dim_customer", "customer_key"),
                     ("dim_part", "part_key"), ("dim_date", "date_key")):
        n = one(f"SELECT count(DISTINCT f.{key}) FROM fact_lineitem f "
                f"ANTI JOIN {dim} d ON f.{key} = d.{key}")
        _expect(fails, n == 0 and res["orphans"].get(key) == 0,
                f"orphan {key}: engine {res['orphans'].get(key)}, "
                f"independent {n}")

    # SCD-1 merge: latest version per customer wins
    db.execute("""CREATE VIEW latest_customer AS
        SELECT c.*, n.n_name FROM (
          SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
                           ORDER BY updated_at DESC) AS rn
                         FROM (SELECT * FROM customer UNION ALL
                               SELECT * FROM customer_updates))
          WHERE rn = 1) c JOIN nation n ON c.c_nationkey = n.n_nationkey""")
    n_latest = one("SELECT count(*) FROM latest_customer")
    _expect(fails, res["upserted_rows"] == n_latest ==
            one("SELECT count(*) FROM dim_customer"),
            f"upsert rows {res['upserted_rows']} != {n_latest}")
    diff = one("""SELECT count(*) FROM latest_customer e FULL JOIN
        dim_customer d ON e.c_custkey = d.c_custkey
        WHERE e.c_acctbal IS DISTINCT FROM d.c_acctbal
           OR e.c_mktsegment IS DISTINCT FROM d.c_mktsegment
           OR e.n_name IS DISTINCT FROM d.n_name""")
    _expect(fails, diff == 0, f"upserted dimension: {diff} rows differ")

    # validation report against independent counts
    rules = {r["rule"]: r for r in res["validation"]["results"]}
    nulls = one("SELECT count(*) FROM lineitem WHERE l_tax IS NULL")
    comp = rules["completeness_l_tax,customer_key"]["details"]
    got_nulls = comp.get("failures", {}).get("l_tax", {}).get("null_count", 0)
    _expect(fails, got_nulls == nulls, f"null count {got_nulls} != {nulls}")
    dups = one("SELECT coalesce(sum(n), 0) FROM (SELECT count(*) n FROM "
               "lineitem GROUP BY l_orderkey, l_linenumber HAVING n > 1)")
    got = rules["uniqueness_l_orderkey,l_linenumber"]["details"]
    _expect(fails, got["duplicate_rows"] == dups,
            f"duplicate rows {got['duplicate_rows']} != {dups}")
    viol = one("SELECT count(*) FROM lineitem WHERE l_discount < 0 "
               "OR l_discount > 0.1")
    got = rules["range_l_discount"]["details"]["violations"]
    _expect(fails, got == viol, f"range violations {got} != {viol}")
    _expect(fails, rules["range_l_quantity"]["details"]["violations"] == 0
            and rules["pattern_customer_key"]["details"]["mismatches"] == 0,
            "quantity range or key pattern reports violations")
    _expect(fails, res["validation"]["summary"]["rows_checked"] ==
            want["fact_lineitem"], "validated row count differs")

    # analytics over the written star, recomputed from the raw tables
    db.execute("""CREATE VIEW fact AS SELECT
        substr(md5(CAST(o.o_custkey AS VARCHAR)), 1, 12) AS customer_key,
        CAST(strftime(o.o_orderdate, '%Y%m%d') AS INTEGER) AS date_key,
        l.l_orderkey, l.l_linenumber,
        l.l_extendedprice * (1.0 - l.l_discount) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""")
    top = db.execute("SELECT l_orderkey, l_linenumber, revenue FROM fact "
                     "ORDER BY revenue DESC, l_orderkey, l_linenumber "
                     "LIMIT 10").fetchall()
    got = [(r["l_orderkey"], r["l_linenumber"], r["revenue"])
           for r in res["top_k"]]
    _expect(fails, len(got) == len(top) and all(
        a[:2] == b[:2] and _close(a[2], b[2]) for a, b in zip(got, top)),
        "top-k lines differ")
    diff = one(f"""SELECT count(*) FROM (
        SELECT customer_key, l_orderkey, l_linenumber FROM (
          SELECT *, row_number() OVER (PARTITION BY customer_key ORDER BY
            date_key DESC, l_orderkey DESC, l_linenumber DESC) rn FROM fact)
          WHERE rn = 1) e FULL JOIN (SELECT customer_key, l_orderkey,
          l_linenumber FROM read_parquet('{out}/latest/*.parquet')) g
        USING (customer_key)
        WHERE e.l_orderkey IS DISTINCT FROM g.l_orderkey
           OR e.l_linenumber IS DISTINCT FROM g.l_linenumber""")
    _expect(fails, diff == 0, f"latest-per-group: {diff} groups differ")
    facets = dict(db.execute("SELECT c_mktsegment, count(*) FROM "
                             "latest_customer GROUP BY 1").fetchall())
    _expect(fails, {r["facet"]: r["count"] for r in res["facets"]} == facets,
            "facet counts differ")
    s = db.execute("SELECT avg(revenue), median(revenue), max(revenue), "
                   "sum(revenue), count(revenue) FROM fact").fetchone()
    g = res["summary"][0]
    _expect(fails, all(_close(g[k], v) for k, v in zip(
        ("mean", "median", "max", "sum", "count"), s)), "summary stats differ")
    nation = dict(db.execute("SELECT c.n_name, sum(f.revenue) FROM fact f "
                             "JOIN latest_customer c ON f.customer_key = "
                             "substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 12)"
                             " GROUP BY 1").fetchall())
    got = {r["n_name"]: r["revenue"] for r in res["revenue_by_nation"]}
    _expect(fails, got.keys() == nation.keys() and all(
        _close(got[k], nation[k]) for k in nation), "revenue by nation differs")

    # streamed window counts against a batch GROUP BY
    diff = one(f"""SELECT count(*) FROM (
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, event_type,
               count(*) AS n, sum(value) AS v
        FROM read_parquet('{inputs}/events/*.parquet') GROUP BY 1, 2) e
        FULL JOIN read_parquet('{out}/stream_hourly/*.parquet') g
        ON e.w = g.window_start AND e.event_type = g.event_type
        WHERE e.n IS DISTINCT FROM g.n_events
           OR abs(e.v - g.sum_value) > 1e-6 * greatest(1, abs(e.v))
           OR g.sum_value IS NULL OR e.v IS NULL""")
    _expect(fails, diff == 0, f"streamed hourly windows: {diff} differ")

    # single requests: one customer's top lines
    keys = [r[0] for r in db.execute(
        "SELECT substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) FROM customer "
        "ORDER BY c_custkey LIMIT ?", [params["requests"]]).fetchall()]
    for k, rows in zip(keys, _requests(outputs, params, fails)):
        want = db.execute("SELECT l_orderkey, l_linenumber, revenue FROM fact "
                          "WHERE customer_key = ? ORDER BY revenue DESC, "
                          "l_orderkey, l_linenumber LIMIT 10", [k]).fetchall()
        got = [(r["l_orderkey"], r["l_linenumber"], r["revenue"])
               for r in rows]
        _expect(fails, len(got) == len(want) and all(
            a[:2] == b[:2] and _close(a[2], b[2])
            for a, b in zip(got, want)), f"request for {k} differs")


# ------------------------------------------------------------------ #
# corpus_dedup                                                       #
# ------------------------------------------------------------------ #

def normalize(text):
    return re.sub(r"\s+", " ", text.lower()).strip()


def words(text):
    return re.findall(r"[a-z0-9]+", text.lower())


def shingle_set(text, n):
    w = words(text)
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def band_keys(shingles, num_hashes, bands):
    """LSH band keys of the md5 MinHash family: h_i = h1 + i*h2, where
    (h1, h2) are the first two 32-bit halves of md5(shingle); band j is
    md5 of its rows' decimal values joined by '|'."""
    if not shingles:
        return set()
    hs = []
    for s in shingles:
        d = hashlib.md5(s.encode()).hexdigest()
        hs.append((int(d[:8], 16), int(d[8:16], 16)))
    h1 = np.array([h[0] for h in hs], dtype=np.int64)
    h2 = np.array([h[1] for h in hs], dtype=np.int64)
    sig = [int((h1 + i * h2).min()) for i in range(num_hashes)]
    r = num_hashes // bands
    return {(j, hashlib.md5("|".join(str(v) for v in sig[j * r:(j + 1) * r])
                            .encode()).hexdigest()) for j in range(bands)}


class NearIndex:
    """Exact near-duplicate lookups through an inverted shingle index."""

    def __init__(self, n, threshold):
        self.n, self.threshold = n, threshold
        self.sh, self.post = {}, {}

    def add(self, doc_id, shingles):
        self.sh[doc_id] = shingles
        for s in shingles:
            self.post.setdefault(s, []).append(doc_id)

    def partners(self, doc_id, shingles):
        """Ids with Jaccard >= threshold. A partner misses at most
        (1 - threshold)|A| of A's shingles, so it holds one of any
        floor((1 - threshold)|A|) + 1 of them: probe the rarest."""
        k = int((1 - self.threshold) * len(shingles)) + 1
        probe = sorted(shingles, key=lambda s: len(self.post.get(s, ())))[:k]
        cands = {c for s in probe for c in self.post.get(s, ()) if c != doc_id}
        return {c for c in cands
                if jaccard(shingles, self.sh[c]) >= self.threshold}


def check_corpus(inputs, outputs, params, fails):
    n, th = params["shingle_n"], params["threshold"]
    nh, bands = params["num_hashes"], params["bands"]
    db = duckdb.connect()
    cin, out = os.path.join(inputs, "corpus"), os.path.join(outputs, "corpus")

    def rows(sql):
        return db.execute(sql).fetchall()

    docs = dict(rows(f"SELECT doc_id, text FROM "
                     f"read_parquet('{cin}/docs.parquet')"))
    prepared = {r[0]: r for r in rows(
        f"SELECT doc_id, text, quality FROM "
        f"read_parquet('{out}/prepared/*.parquet')")}
    sh = {i: shingle_set(t, n) for i, t in docs.items()}

    # no two survivors share normalized text
    norms = [normalize(r[1]) for r in prepared.values()]
    _expect(fails, len(set(norms)) == len(norms),
            f"{len(norms) - len(set(norms))} survivors share normalized text")
    _expect(fails, set(prepared) <= set(docs), "survivors not in the corpus")
    _expect(fails, all(r[2] >= params["min_quality"]
                       for r in prepared.values()), "survivor below quality")

    # no two survivors form a verified LSH pair (band collision and
    # Jaccard >= threshold): each near-duplicate cluster keeps one member
    buckets = {}
    for i in prepared:
        for k in band_keys(sh[i], nh, bands):
            buckets.setdefault(k, []).append(i)
    pairs = {(a, b) for ids in buckets.values() for a in ids for b in ids
             if a < b and jaccard(sh[a], sh[b]) >= th}
    _expect(fails, not pairs,
            f"{len(pairs)} survivor pairs are verified near duplicates")

    # every dropped document has a partner at Jaccard >= threshold
    idx = NearIndex(n, th)
    for i, s in sh.items():
        idx.add(i, s)
    dropped = [i for i in docs if i not in prepared]
    orphans = [i for i in dropped if not idx.partners(i, sh[i])]
    _expect(fails, not orphans,
            f"{len(orphans)} dropped docs have no partner, e.g. {orphans[:3]}")

    # recall of planted near duplicates against the LSH S-curve floor
    with open(os.path.join(cin, "planted.json")) as f:
        planted = [p for p in json.load(f) if p[2] >= th]
    # every pair is caught with at least the curve's value at the
    # threshold; allow three binomial standard deviations below it. A
    # floor from each pair's own curve value would be stricter, but the
    # engine's h1 + i*h2 MinHash family falls below that one on about a
    # quarter of the seeds (its rows are correlated), so this floor is the
    # one every seed can be held to
    p = 1 - (1 - th ** (nh // bands)) ** bands
    hit = sum(1 for a, b, _ in planted
              if not (a in prepared and b in prepared))
    floor = len(planted) * p - 3 * math.sqrt(len(planted) * p * (1 - p))
    _expect(fails, hit >= floor,
            f"near-duplicate recall {hit}/{len(planted)} below S-curve floor "
            f"{floor:.1f}")

    # splits: each survivor once, label = md5 hash fraction of salt||id
    split = rows(f"SELECT doc_id, tokens, split FROM "
                 f"read_parquet('{out}/split/*.parquet')")
    _expect(fails, sorted(s[0] for s in split) == sorted(prepared),
            "split rows are not the survivors, once each")
    bounds, acc = [], 0.0
    for name, w in params["splits"]:
        acc += w
        bounds.append((round(acc * 1e9) / 1e9, name))
    wrong = 0
    for doc_id, tokens, label in split:
        h = int(hashlib.md5((params["split_salt"] + str(doc_id)).encode())
                .hexdigest()[:8], 16) / 4294967296.0
        want = next((nm for b, nm in bounds[:-1] if h < b), bounds[-1][1])
        wrong += (want != label) + (tokens != len(words(docs[doc_id])))
    _expect(fails, wrong == 0, f"{wrong} split labels or token counts wrong")

    # shards: id-ordered token stream cut at the budget
    budget = params["shard_budget"]
    offset, bad = 0, 0
    shards = rows(f"SELECT doc_id, tokens, token_offset, shard FROM "
                  f"read_parquet('{out}/shards/*.parquet') ORDER BY doc_id")
    for doc_id, tokens, off, shard in shards:
        bad += off != offset or shard != offset // budget
        offset += tokens
    _expect(fails, len(shards) == sum(1 for s in split if s[2] == "train"),
            "shards do not hold exactly the train split")
    _expect(fails, bad == 0, f"{bad} shard offsets break the token budget")

    # incremental: replay exact-then-LSH dedup against the growing history
    hist = {i: prepared[i][1] for i in prepared}
    fps = {normalize(t) for t in hist.values()}
    bands_of = {i: band_keys(shingle_set(t, n), nh, bands)
                for i, t in hist.items()}
    bucket = {}
    for i, ks in bands_of.items():
        for k in ks:
            bucket.setdefault(k, set()).add(i)
    hsh = {i: shingle_set(t, n) for i, t in hist.items()}
    final = dict(rows(f"SELECT doc_id, text FROM "
                      f"read_parquet('{out}/history/*.parquet')"))
    for bpath in sorted(glob.glob(os.path.join(cin, "batch_*.parquet")),
                        key=lambda p: int(re.findall(r"\d+", p)[-1])):
        batch = rows(f"SELECT doc_id, text FROM read_parquet('{bpath}') "
                     "ORDER BY doc_id")
        seen, landed = set(), {}
        for i, t in batch:
            fp = normalize(t)
            if fp in seen or fp in fps:
                continue
            seen.add(fp)
            s = shingle_set(t, n)
            ks = band_keys(s, nh, bands)
            cands = {c for k in ks for c in bucket.get(k, ())}
            if any(jaccard(s, hsh[c]) >= th for c in cands):
                continue
            landed[i] = (t, s, ks)
        for i, (t, s, ks) in landed.items():
            hist[i], hsh[i] = t, s
            fps.add(normalize(t))
            for k in ks:
                bucket.setdefault(k, set()).add(i)
        ids = {i for i, _ in batch}
        got = {i for i in final if i in ids}
        _expect(fails, got == set(landed),
                f"{os.path.basename(bpath)}: landed {len(got)} docs, replay "
                f"{len(landed)}; differ on {len(got ^ set(landed))}")
    _expect(fails, set(final) == set(hist), "final history differs")

    # single lookups: LSH candidates verified at Jaccard >= threshold
    req = rows(f"SELECT doc_id, text FROM "
               f"read_parquet('{cin}/requests.parquet') ORDER BY doc_id")
    for (i, t), got in zip(req, _requests(outputs, params, fails)):
        s = shingle_set(t, n)
        cands = {c for k in band_keys(s, nh, bands)
                 for c in bucket.get(k, ())}
        want = {c: jaccard(s, hsh[c]) for c in cands}
        want = {c: j for c, j in want.items() if j >= th}
        g = {r["corpus_id"]: r["jaccard"] for r in got}
        _expect(fails, g.keys() == want.keys() and all(
            _close(g[c], want[c]) for c in want),
            f"lookup {i}: matches {sorted(g)} != {sorted(want)}")


# ------------------------------------------------------------------ #
# retrieval                                                          #
# ------------------------------------------------------------------ #

RECALL_FLOOR = 0.5


def check_retrieval(inputs, outputs, params, fails):
    k = params["top_k"]
    db = duckdb.connect()
    vin, out = os.path.join(inputs, "vectors"), os.path.join(outputs,
                                                            "retrieval")
    corpus = db.execute(f"SELECT vec_id, embedding, text FROM "
                        f"read_parquet('{vin}/corpus.parquet') "
                        "ORDER BY vec_id").fetchall()
    queries = db.execute(f"SELECT qid, embedding, text FROM "
                         f"read_parquet('{vin}/queries.parquet') "
                         "ORDER BY qid").fetchall()
    ids = np.array([r[0] for r in corpus])
    cv = np.array([r[1] for r in corpus], dtype=np.float32).astype(np.float64)
    qv = np.array([r[1] for r in queries], dtype=np.float32).astype(np.float64)
    cos = (qv @ cv.T) / np.outer(np.linalg.norm(qv, axis=1),
                                 np.linalg.norm(cv, axis=1))
    qids = [r[0] for r in queries]
    truth = {}
    for qi, q in enumerate(qids):
        order = np.lexsort((ids, -np.round(cos[qi], 4)))[:k]
        truth[q] = (set(ids[order]), cos[qi][order[-1]], qi)

    def hits(path, qcol, ncol, scol):
        res = {}
        for q, nb, s, rk in db.execute(
                f"SELECT {qcol}, {ncol}, {scol}, rank FROM "
                f"read_parquet('{out}/{path}/*.parquet') "
                f"ORDER BY {qcol}, rank").fetchall():
            res.setdefault(q, []).append((nb, s, rk))
        return res

    # exact top-k against an independent cosine ranking
    pos = {v: i for i, v in enumerate(ids)}
    exact, bad = hits("exact", "query_id", "neighbor_id", "sim"), 0
    for q, (want, kth, qi) in truth.items():
        got = exact.get(q, [])
        for nb, s, _ in got:
            true = cos[qi][pos[nb]]
            bad += abs(s - true) > 1e-4 or true < kth - 1e-4
        bad += len(got) != k or len({g[0] for g in got}) != k
    _expect(fails, bad == 0, f"exact top-k: {bad} rows disagree with numpy")

    # IVF-PQ recall@k against the same ranking
    ivf = hits("ivfpq", "query_id", "neighbor_id", "sim")
    recall = np.mean([len({g[0] for g in ivf.get(q, [])} & truth[q][0]) / k
                      for q in qids])
    print(f"[check] IVF-PQ recall@{k} {recall:.3f}", file=sys.stderr)
    _expect(fails, recall >= RECALL_FLOOR,
            f"IVF-PQ recall@{k} {recall:.3f} below {RECALL_FLOOR}")
    for q, rows in zip(qids, _requests(outputs, params, fails)):
        got = [(r["neighbor_id"], r["sim"]) for r in rows]
        want = [(g[0], g[1]) for g in ivf.get(q, [])]
        _expect(fails, got == want, f"single query {q} differs from batch")

    # BM25 scores by the formula (k1 = 1.2, b = 0.75, nano-floored terms)
    toks = [words(r[2]) for r in corpus]
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks) / n_docs
    df, tfs = {}, []
    for t in toks:
        c = {}
        for w in t:
            c[w] = c.get(w, 0) + 1
        tfs.append(c)
        for w in c:
            df[w] = df.get(w, 0) + 1

    def score(qtext, di):
        total = 0
        for w in set(words(qtext)):
            tf = tfs[di].get(w)
            if tf:
                idf = math.log(1.0 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
                total += math.floor(idf * (tf * 2.2) / (tf + 1.2 * (
                    0.25 + 0.75 * len(toks[di]) / avgdl)) * 1e9)
        return total

    bm = hits("bm25_hits", "qid", "vec_id", "score_micro")
    bad = 0
    for qi, (q, _, qtext) in enumerate(queries[:16]):
        got = bm.get(q, [])
        nq = len(set(words(qtext)))
        for nb, s, _ in got:
            bad += abs(s - score(qtext, pos[nb])) > nq
        best = sorted((score(qtext, i) for i in range(n_docs)),
                      reverse=True)[:k]
        bad += len(got) != min(k, sum(1 for s in best if s > 0))
        bad += bool(got) and abs(got[-1][1] - best[len(got) - 1]) > nq
    _expect(fails, bad == 0, f"BM25: {bad} scores or ranks off the formula")

    with open(os.path.join(out, "rerank.json")) as f:
        rr = json.load(f)["rows"]
    per_q = {}
    for r in rr:
        per_q.setdefault(r["query_id"], []).append(r)
    _expect(fails, len(per_q) == len(qids) and all(
        len(v) <= params["mmr_k"] and
        len({r["neighbor_id"] for r in v}) == len(v) for v in per_q.values()),
        "MMR rerank rows malformed")


CHECKS = {"etl_star": check_etl, "corpus_dedup": check_corpus,
          "retrieval": check_retrieval}
