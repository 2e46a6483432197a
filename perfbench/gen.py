"""Seeded input generator for the pipeline benchmark.

Every input the engine sees is produced here from the workload seed:
the same (workload, seed) always yields byte-identical files.

    python3 perfbench/gen.py --workload etl_star --seed 1 --out DIR

Writes under DIR the named workload's inputs and manifest.json (sizes):
  etl_star      star/    TPC-H-shaped tables (nation, region, customer,
                         part, orders, lineitem) plus customer_updates for
                         the SCD-1 merge; lineitem carries planted nulls,
                         duplicate keys and range violations
                pages/   USGS-shaped GeoJSON pages (replayed through file:
                         URLs)
                events/  the event backlog, time-ordered, one Parquet file
                         per micro-batch
  corpus_dedup  corpus/  docs.parquet (Zipf vocabulary, planted exact and
                         near duplicates), batch_<i>.parquet incremental
                         batches, requests.parquet lookup documents,
                         planted.json (the planted near-duplicate pairs)
  retrieval     vectors/ clustered float embeddings with topic text
                         (corpus.parquet) and queries.parquet
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload.
SIZES = {
    "etl_star": dict(customers=1000, parts=1500, orders=10000, pages=16,
                     per_page=200, events=40000, event_files=4),
    "corpus_dedup": dict(docs=1200, batches=1, batch_docs=120, requests=3),
    "retrieval": dict(docs=2000, dim=32, clusters=16, subclusters=16,
                      queries=32),
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that",
             "for", "on", "with", "as"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
             "qu", "be", "do", "fi", "gu", "ha", "jo", "ki", "ma", "no"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "search"]
SOURCES = ["web", "news", "forum", "wiki"]

US_PER_DAY = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us", tz="UTC"))


def gen_star(rng, out, customers, parts, orders, pages, per_page, events,
             event_files):
    d = os.path.join(out, "star")
    write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": REGIONS}), f"{d}/region.parquet")
    write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": NATIONS,
                    "n_regionkey": pa.array([i % 5 for i in range(25)],
                                            pa.int32())}),
          f"{d}/nation.parquet")
    ck = np.arange(1, customers + 1, dtype=np.int64)
    write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, customers), 2),
        "c_mktsegment": [SEGMENTS[i] for i in
                         rng.integers(0, 5, customers)],
        "updated_at": ts(np.full(customers, EPOCH_1995_US)),
    }), f"{d}/customer.parquet")
    # SCD-1 updates: a tenth of the customers change balance/segment,
    # plus new customers; some keys appear twice (the later one wins)
    upd = rng.choice(ck, customers // 10, replace=False)
    upd = np.concatenate([upd, upd[: len(upd) // 5]])
    new = np.arange(customers + 1, customers + 1 + customers // 20,
                    dtype=np.int64)
    uk = np.concatenate([upd, new])
    write(pa.table({
        "c_custkey": uk,
        "c_name": [f"Customer#{k:09d}" for k in uk],
        "c_nationkey": pa.array(rng.integers(0, 25, len(uk)), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, len(uk)), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, len(uk))],
        "updated_at": ts(EPOCH_1995_US + US_PER_DAY +
                         np.arange(len(uk), dtype=np.int64) * 1_000_000),
    }), f"{d}/customer_updates.parquet")
    pk = np.arange(1, parts + 1, dtype=np.int64)
    write(pa.table({
        "p_partkey": pk,
        "p_name": [f"part {k}" for k in pk],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, parts)],
        "p_type": [f"TYPE{t}" for t in rng.integers(0, 30, parts)],
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, parts), 2),
    }), f"{d}/part.parquet")
    ok = np.arange(1, orders + 1, dtype=np.int64)
    odate = EPOCH_1995_US + rng.integers(0, 5 * 365, orders) * US_PER_DAY
    write(pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, customers + 1, orders),
        "o_orderstatus": [("F", "O", "P")[i] for i in
                          rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, orders), 2),
        "o_orderdate": ts(odate),
        "o_orderpriority": [f"{i}-PRI" for i in rng.integers(1, 6, orders)],
    }), f"{d}/orders.parquet")
    nlines = rng.integers(1, 8, orders)
    lo = np.repeat(ok, nlines)
    ln = np.concatenate([np.arange(1, n + 1) for n in nlines]).astype(np.int32)
    n = len(lo)
    qty = rng.integers(1, 51, n).astype(np.float64)
    disc = np.round(rng.integers(0, 11, n) / 100.0, 2)
    bad = rng.random(n) < 0.002  # planted range violations
    disc[bad] = np.round(rng.uniform(0.15, 0.3, bad.sum()), 2)
    tax = np.round(rng.integers(0, 9, n) / 100.0, 2).astype(object)
    tax[rng.random(n) < 0.001] = None  # planted nulls
    ship = np.repeat(odate, nlines) + rng.integers(1, 120, n) * US_PER_DAY
    li = {
        "l_orderkey": lo,
        "l_partkey": rng.integers(1, parts + 1, n),
        "l_suppkey": rng.integers(1, 101, n),
        "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": disc,
        "l_tax": pa.array(list(tax), pa.float64()),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": ts(ship),
    }
    table = pa.table(li)
    dup = np.flatnonzero(rng.random(n) < 0.0005)  # planted duplicate keys
    if len(dup):
        table = pa.concat_tables([table, table.take(pa.array(dup))])
    write(table, f"{d}/lineitem.parquet")

    gen_pages(rng, os.path.join(out, "pages"), pages, per_page)
    gen_events(rng, os.path.join(out, "events"), events, event_files)


def gen_pages(rng, d, pages, per_page):
    os.makedirs(d, exist_ok=True)
    t0 = 1_735_689_600_000  # 2025-01-01 in epoch ms
    for p in range(pages):
        feats = []
        for i in range(per_page):
            fid = p * per_page + i
            mag = None if rng.random() < 0.01 else round(
                float(rng.uniform(2.5, 8.0)), 2)
            feats.append({
                "type": "Feature", "id": f"us{fid:08d}",
                "properties": {
                    "mag": mag, "place": f"{int(rng.integers(1, 300))} km "
                    f"of {NATIONS[int(rng.integers(0, 25))].title()}",
                    "time": t0 + int(rng.integers(0, 365 * 86_400_000)),
                    "type": "earthquake",
                    "status": ("reviewed", "automatic")[
                        int(rng.integers(0, 2))]},
                "geometry": {"type": "Point", "coordinates": [
                    round(float(rng.uniform(-180, 180)), 4),
                    round(float(rng.uniform(-90, 90)), 4),
                    round(float(rng.uniform(0, 700)), 2)]}})
        body = {"type": "FeatureCollection",
                "metadata": {"generated": t0, "count": per_page},
                "features": feats}
        with open(f"{d}/page_{p:04d}.json", "w") as f:
            json.dump(body, f)


def gen_events(rng, d, events, files):
    os.makedirs(d, exist_ok=True)
    start = EPOCH_1995_US + 400 * US_PER_DAY
    t = np.sort(start + rng.integers(0, 14 * US_PER_DAY, events))
    table = pa.table({
        "event_id": np.arange(events, dtype=np.int64),
        "ts": ts(t),
        "user_id": rng.integers(1, 2001, events),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, events)],
        "value": np.round(rng.uniform(0, 100, events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
    })
    # time-ordered files: each micro-batch is later than the one before,
    # so no event arrives behind the watermark
    cut = np.linspace(0, events, files + 1).astype(int)
    for i in range(files):
        write(table.slice(cut[i], cut[i + 1] - cut[i]),
              f"{d}/part_{i:03d}.parquet")


def make_vocab(rng, size):
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        words.add("".join(SYLLABLES[i] for i in rng.integers(0, 20, k)))
    return sorted(words)


def zipf_sampler(rng, vocab, s=1.05):
    p = 1.0 / np.arange(1, len(vocab) + 1) ** s
    p /= p.sum()
    return lambda n: [vocab[i] for i in rng.choice(len(vocab), n, p=p)]


def make_doc(rng, draw, n_words):
    words = draw(n_words)
    for i in np.flatnonzero(rng.random(n_words) < 0.25):
        words[i] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return words


def shingles(words, n=3):
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def perturb(rng, draw, words):
    """Near duplicate: 1 to 3 single-word substitutions."""
    w = list(words)
    for p in rng.choice(len(w), int(rng.integers(1, 4)), replace=False):
        w[p] = draw(1)[0]
    return w


def restyle(rng, words):
    """Exact duplicate after normalization: case and whitespace only."""
    out = []
    for w in words:
        out.append(w.upper() if rng.random() < 0.1 else w)
        out.append("  " if rng.random() < 0.1 else " ")
    return "".join(out[:-1]) + ("\n" if rng.random() < 0.5 else "")


def gen_corpus(rng, out, docs, batches, batch_docs, requests):
    d = os.path.join(out, "corpus")
    os.makedirs(d, exist_ok=True)
    draw = zipf_sampler(rng, make_vocab(rng, 5000))
    n_exact = int(docs * 0.04)
    n_near = int(docs * 0.06)
    n_base = docs - n_exact - n_near
    base = [make_doc(rng, draw, int(rng.integers(40, 121)))
            for _ in range(n_base)]
    texts = [" ".join(w) for w in base]
    words = list(base)
    planted = []  # (index of original, index of near duplicate, jaccard)
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        texts.append(restyle(rng, base[src]))
        words.append(base[src])
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        w = perturb(rng, draw, base[src])
        planted.append((src, len(texts), jaccard(base[src], w)))
        texts.append(" ".join(w))
        words.append(w)
    # ids are a random permutation, so duplicates are not always the
    # higher id of their pair
    ids = rng.permutation(docs * 10)[:docs].astype(np.int64)
    write(pa.table({
        "doc_id": ids, "text": texts,
        "lang": ["en"] * docs,
        "source": [SOURCES[i] for i in rng.integers(0, 4, docs)],
    }), f"{d}/docs.parquet")
    with open(f"{d}/planted.json", "w") as f:
        json.dump([[int(ids[a]), int(ids[b]), j] for a, b, j in planted], f)
    next_id = docs * 10
    for bi in range(batches):
        bt, bids = [], []
        for _ in range(batch_docs):
            r = rng.random()
            src = int(rng.integers(0, docs))
            if r < 0.75:
                bt.append(" ".join(make_doc(rng, draw,
                                            int(rng.integers(40, 121)))))
            elif r < 0.85:
                bt.append(restyle(rng, words[src]))
            elif r < 0.95:
                bt.append(" ".join(perturb(rng, draw, words[src])))
            else:  # in-batch exact duplicate
                bt.append(bt[int(rng.integers(0, len(bt)))] if bt
                          else " ".join(words[src]))
            bids.append(next_id)
            next_id += 1
        write(pa.table({"doc_id": np.array(bids, dtype=np.int64),
                        "text": bt, "lang": ["en"] * len(bt),
                        "source": ["crawl"] * len(bt)}),
              f"{d}/batch_{bi}.parquet")
    # single-document lookups: near copies, exact copies and fresh text
    rt = []
    for i in range(requests):
        src = words[int(rng.integers(0, docs))]
        rt.append(" ".join(perturb(rng, draw, src)) if i % 4 < 2 else
                  restyle(rng, src) if i % 4 == 2 else
                  " ".join(make_doc(rng, draw, int(rng.integers(40, 121)))))
    write(pa.table({"doc_id": np.arange(next_id, next_id + requests,
                                        dtype=np.int64), "text": rt}),
          f"{d}/requests.parquet")


def gen_vectors(rng, out, docs, dim, clusters, subclusters, queries):
    """Topics with sub-topics: a document's nearest neighbours are mostly
    its sub-topic's members, and its text leans on its topic's words."""
    d = os.path.join(out, "vectors")
    os.makedirs(d, exist_ok=True)
    vocab = make_vocab(rng, 6000)
    general = zipf_sampler(rng, vocab)
    topic_words = [vocab[i * 200:(i + 1) * 200] for i in range(clusters)]
    centers = rng.normal(0, 1, (clusters, dim))
    subs = (np.repeat(centers, subclusters, axis=0) +
            rng.normal(0, 0.5, (clusters * subclusters, dim)))
    sub = rng.integers(0, len(subs), docs)
    vecs = subs[sub] + rng.normal(0, 0.15, (docs, dim))

    def text(t, n):
        w = make_doc(rng, general, n)
        tw = topic_words[t]
        for i in np.flatnonzero(rng.random(n) < 0.3):
            w[i] = tw[int(rng.integers(0, len(tw)))]
        return " ".join(w)

    vec_type = pa.list_(pa.float32())
    write(pa.table({
        "vec_id": np.arange(docs, dtype=np.int64),
        "embedding": pa.array([v.astype(np.float32) for v in vecs],
                              vec_type),
        "text": [text(s // subclusters, int(rng.integers(30, 81)))
                 for s in sub],
        "topic": pa.array(sub // subclusters, pa.int32()),
    }), f"{d}/corpus.parquet")
    qs = rng.integers(0, len(subs), queries)
    qv = subs[qs] + rng.normal(0, 0.15, (queries, dim))
    write(pa.table({
        "qid": np.arange(1_000_000, 1_000_000 + queries, dtype=np.int64),
        "embedding": pa.array([v.astype(np.float32) for v in qv], vec_type),
        "text": [" ".join(topic_words[s // subclusters][i] for i in
                          rng.integers(0, 200, 6)) for s in qs],
    }), f"{d}/queries.parquet")


GENERATORS = {"etl_star": gen_star, "corpus_dedup": gen_corpus,
              "retrieval": gen_vectors}


def generate(workload, seed, out):
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    GENERATORS[workload](rng, out, **SIZES[workload])
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed,
                   "sizes": SIZES[workload]}, f, indent=1)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
