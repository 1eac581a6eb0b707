"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed writes the
same rows. The engine under test only ever sees the files these functions
write.

- `lake`: the star-schema + events + documents + embeddings tables the
  `lake_analytics` lanes read, in the column layout of the repository's
  test lakes (uniform keys, two-decimal money, microsecond timestamps).
- `corpus`: the `corpus_pipeline` inputs -- documents with injected
  low-quality, contaminated, exact-duplicate and near-duplicate rows, a
  held-out benchmark set, and one embedding per document with injected
  near-duplicate vectors -- plus the generator's own ground truth.
- `tsdb`: the `tsdb_serve` line-protocol bodies and dashboard statements.
"""
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]
# held-out benchmark documents draw from a vocabulary disjoint from VOCAB,
# so a corpus word-3-gram can match a benchmark 3-gram only where the
# generator spliced a benchmark span into the document
BENCH_VOCAB = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
               "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
               "oscar", "papa", "quebec", "romeo", "sierra", "tango"]
JUNK = ["$$", "##", "!!", "%%", "&&", "**", "@@", "^^", "~~", "++"]
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIMS = 64
US_PER_DAY = 86_400_000_000


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _days_us(rng, n, start, end):
    """n midnight timestamps (µs) uniform over [start, end] (ISO dates)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * US_PER_DAY).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs_text(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    return out


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, EMB_DIMS))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _vec_column(v):
    return pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1)), EMB_DIMS).cast(
        pa.list_(pa.float32()))


def lake(out, seed, sf):
    """Write the ten lake tables at scale factor `sf` under `out`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(f"{out}/part.parquet", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days_us(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days_us(rng, n_li, "1995-01-02", "2001-11-04")})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.choice(30 * US_PER_DAY, n_ev, replace=False)) + t0
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    text = _docs_text(rng, n_doc)
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": _vec_column(_unit_vectors(rng, n_emb)),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def _edit(rng, words, k):
    """`words` with k distinct positions replaced by a different vocab word."""
    w = list(words)
    for i in rng.choice(len(w), size=min(k, len(w)), replace=False):
        w[i] = VOCAB[(VOCAB.index(w[i]) + 1 + int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
    return w


def temperature_keep(ids, strata, budget):
    """Ground truth for graft.operators.Sampling.temperatureSample with the
    same double arithmetic: per-stratum rate ~ sqrt(n_d), md5(id) prefix
    compared against the stratum's 9-hex-digit threshold."""
    counts = {}
    for s in strata:
        counts[s] = counts.get(s, 0) + 1
    s_d = {s: math.floor(math.sqrt(float(n)) * 1000000.0) for s, n in counts.items()}
    total = float(sum(s_d.values()))
    thr = {s: "%09x" % min(math.floor(float(budget) * float(s_d[s]) / (total * float(n))
                                      * 4294967296.0), 4294967296)
           for s, n in counts.items()}
    return {i for i, s in zip(ids, strata)
            if "0" + hashlib.md5(str(i).encode()).hexdigest()[:8] < thr[s]}


def corpus(out, seed, n_docs, cfg):
    """Write corpus.parquet, benchmark.parquet, embeddings.parquet and
    truth.json under `out`. Injection shares come from `cfg` (spec.json)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    n_junk = int(n_docs * cfg["junk_share"])
    n_cont = int(n_docs * cfg["contaminated_share"])
    n_exact = int(n_docs * cfg["exact_dup_share"])
    n_near = int(n_docs * cfg["near_dup_share"])
    n_base = n_docs - n_junk - n_exact - n_near

    bench_words = rng.integers(0, len(BENCH_VOCAB), (cfg["benchmark_docs"], 40))
    bench = [[BENCH_VOCAB[i] for i in row] for row in bench_words]

    seen, base = set(), []
    for t in _docs_text(rng, n_base * 2, 20, 100):
        if t not in seen:
            seen.add(t)
            base.append(t.split(" "))
        if len(base) == n_base:
            break
    kind = ["base"] * n_base
    # contamination: an 8-word benchmark span spliced into a base document
    for i in rng.choice(n_base, n_cont, replace=False):
        b = bench[int(rng.integers(0, len(bench)))]
        at = int(rng.integers(0, len(b) - 8))
        pos = int(rng.integers(0, len(base[i])))
        base[i] = base[i][:pos] + b[at:at + 8] + base[i][pos:]
        kind[i] = "contaminated"
    texts = [" ".join(w) for w in base]
    origin = list(range(n_base))
    for _ in range(n_junk):
        k = int(rng.integers(5, 30))
        texts.append(" ".join(JUNK[j] for j in rng.integers(0, len(JUNK), k)))
        kind.append("junk")
        origin.append(len(origin))
    clean = [i for i in range(n_base) if kind[i] == "base"]
    for i in rng.choice(clean, n_exact):
        texts.append(texts[i])
        kind.append("exact_dup")
        origin.append(int(i))
    for i in rng.choice(clean, n_near):
        texts.append(" ".join(_edit(rng, base[i], cfg["near_dup_edits"])))
        kind.append("near_dup")
        origin.append(int(i))
    # ids are a seeded permutation, so copies are not always the larger id
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    n = len(texts)
    lang = rng.choice(LANGS, n, p=LANG_P)
    source = np.char.add("src", rng.integers(0, cfg["sources"], n).astype(str))
    _write(f"{out}/corpus.parquet", {
        "doc_id": ids, "text": texts, "lang": lang, "source": source})
    _write(f"{out}/benchmark.parquet", {
        "doc_id": np.arange(len(bench), dtype=np.int64),
        "text": [" ".join(b) for b in bench]})

    vec = _unit_vectors(rng, n)
    near_vec = rng.choice(n, int(n * cfg["near_dup_vector_share"]), replace=False)
    partner = {}
    for j in near_vec:
        i = int(rng.integers(0, n))
        if i == j or i in partner or int(j) in partner.values():
            continue
        noise = rng.standard_normal(EMB_DIMS) * cfg["near_dup_vector_noise"]
        v = vec[i] + noise
        vec[j] = (v / np.linalg.norm(v)).astype(np.float32)
        partner[int(j)] = i
    _write(f"{out}/embeddings.parquet", {"vec_id": ids, "embedding": _vec_column(vec)})

    truth = {
        "docs": n,
        "ids": ids.tolist(),
        "kind": kind,
        "origin_id": [int(ids[o]) for o in origin],
        "source": source.tolist(),
        # index pairs (copy, original) of injected near-duplicate vectors
        "vector_pairs": [[int(ids[j]), int(ids[i])] for j, i in partner.items()],
    }
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return truth


T0_NS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z


def tsdb(out, seed, cfg, seconds):
    """Write the line-protocol bodies (seed, backfill, steady) and the
    dashboard statement list for `tsdb_serve` under `out`. Returns
    {body name: [(host, t_ns, value), ...]} for the output checks."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    hosts = [f"h{h:03d}" for h in range(cfg["hosts"])]
    step = cfg["event_step_s"] * 1_000_000_000
    points = {}

    def body(name, stamps):
        pts = []
        for k in stamps:
            cents = rng.integers(0, 10000, len(hosts))
            pts += [(h, T0_NS + k * step, int(c)) for h, c in zip(hosts, cents)]
        with open(f"{out}/{name}", "w") as f:
            f.write("\n".join(f"{cfg['raw_table']},host={h} usage={c / 100:.2f} {t}"
                              for h, t, c in pts))
        points[name] = [(h, t, c / 100) for h, t, c in pts]

    body("seed.lp", [0])
    per = cfg["backfill_timestamps_per_body"]
    for i in range(cfg["backfill_bodies"]):
        body(f"backfill-{i:05d}.lp", range(1 + i * per, 1 + (i + 1) * per))
    first = 1 + cfg["backfill_bodies"] * per
    n_steady = int(math.ceil(cfg["bodies_per_s"] * seconds)) + 1
    per = cfg["steady_timestamps_per_body"]
    for i in range(n_steady):
        body(f"steady-{i:05d}.lp", range(first + i * per, first + (i + 1) * per))

    raw, roll = cfg["raw_table"], cfg["rollup_table"]
    span_s = (first - 1) * cfg["event_step_s"]
    kinds = {
        "last": (lambda: f"SELECT host, max(time) AS last_time, max_by(usage, time) AS last_usage"
                         f" FROM {raw} GROUP BY host", ["host", "last_time", "last_usage"]),
        "downsample": (lambda: f"SELECT time, n, sum_usage FROM {roll}"
                               f" WHERE host = '{rng.choice(hosts)}' ORDER BY time",
                       ["time", "n", "sum_usage"]),
        "range": (lambda: _range_sql(rng, raw, hosts, span_s), ["time", "usage"]),
        "count": (lambda: f"SELECT count(*) AS n FROM {raw}", ["n"]),
    }
    names = sorted(kinds)
    statements = []
    for _ in range(1000):
        for k in rng.permutation(names):
            sql, cols = kinds[k]
            statements.append({"kind": str(k), "sql": sql(), "columns": cols})
    with open(f"{out}/dashboard.json", "w") as f:
        json.dump(statements, f)
    return {"points": points, "steady_bodies": n_steady}


def _range_sql(rng, raw, hosts, span_s):
    a = int(rng.integers(0, max(1, span_s - 600)))
    lo = np.datetime64(T0_NS + a * 1_000_000_000, "ns").astype("datetime64[s]")
    hi = lo + np.timedelta64(600, "s")
    fmt = lambda d: str(d).replace("T", " ")
    return (f"SELECT time, usage FROM {raw} WHERE host = '{rng.choice(hosts)}'"
            f" AND time >= TIMESTAMP '{fmt(lo)}' AND time < TIMESTAMP '{fmt(hi)}' ORDER BY time")
