"""Output checks that do not trust the program: each compares what graft
produced against the generator's own ground truth or an independent
engine (DuckDB). They run after the timed load and count toward no
timed metric. `check` returns (all passed, [problem, ...])."""
import csv
import glob
import io
import math
import os
from collections import defaultdict

import duckdb
import pyarrow.parquet as pq

import gen

LAKE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
               "events", "documents", "embeddings"]


def check(workload, rec, truth, params):
    problems = {"tsdb_serve": _tsdb, "lake_analytics": _lake,
                "corpus_pipeline": _corpus}[workload](rec, truth, params)
    return not problems, problems


def _close(a, b):
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _csv(text):
    if text.startswith("ERROR"):
        raise ValueError(text)
    return list(csv.DictReader(io.StringIO(text)))


def _tsdb(rec, truth, params):
    problems = []
    bad_cols = [o for o in rec["ops"] if o["kind"] == "query" and "expected [" in o["error"]]
    if bad_cols:
        problems.append(f"{len(bad_cols)} dashboard responses with wrong columns: "
                        f"{bad_cols[0]['error']}")
    done = set()
    for c in rec["commits"]:
        if c["committed"] and c["first"] <= c["last"]:
            done.update(range(c["first"], c["last"] + 1))
    names = ["seed.lp"] + [f"{s['phase']}-{s['index']:05d}.lp" for s in rec["sent"]
                           if s["ok"] and s["body"] in done]
    pts = [p for n in names for p in truth["points"][n]]
    n_host, s_host = defaultdict(int), defaultdict(list)
    window_ns = 60 * 1_000_000_000
    n_win, s_win = defaultdict(int), defaultdict(list)
    for h, t, v in pts:
        n_host[h] += 1
        s_host[h].append(v)
        w = (h, t // window_ns * window_ns // 1000)
        n_win[w] += 1
        s_win[w].append(v)
    try:
        rows = _csv(rec["checks"]["per_series"])
        got = {r["host"]: (int(r["n"]), float(r["s"])) for r in rows}
        for h in n_host:
            if h not in got:
                problems.append(f"series {h} missing from the raw table")
            elif got[h][0] != n_host[h] or not _close(got[h][1], math.fsum(s_host[h])):
                problems.append(f"series {h}: stored count/sum {got[h]}, "
                                f"sent {n_host[h]}/{math.fsum(s_host[h])}")
        for h in set(got) - set(n_host):
            problems.append(f"series {h} stored but never sent")
    except ValueError as e:
        problems.append(f"per-series query failed: {e}")
    try:
        rows = _csv(rec["checks"]["rollup"])
        got = {(r["host"], int(r["t_us"])): (int(r["n"]), float(r["sum_usage"])) for r in rows}
        max_t_us = max(t for _, t, _ in pts) // 1000
        for k, (n, s) in got.items():
            if k not in n_win:
                problems.append(f"rollup window {k} has no sent points")
            elif n != n_win[k] or not _close(s, math.fsum(s_win[k])):
                problems.append(f"rollup window {k}: {n}/{s}, sent {n_win[k]}/"
                                f"{math.fsum(s_win[k])}")
        # windows the zero-delay watermark has certainly closed
        closed = [k for k in n_win if k[1] + 120_000_000 <= max_t_us]
        missing = [k for k in closed if k not in got]
        if missing:
            problems.append(f"{len(missing)} closed rollup windows missing, e.g. {missing[0]}")
    except ValueError as e:
        problems.append(f"rollup query failed: {e}")
    if not rec["drained"]:
        problems.append("posted bodies were still uncommitted at the end of the run")
    return problems


def _values_equal(a, b):
    if isinstance(a, float) and math.isnan(a):
        a = "NaN"
    if isinstance(b, float) and math.isnan(b):
        b = "NaN"
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and \
            not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _sortkey(row):
    return tuple((x is None, str(x)) for x in row)


def _lake(rec, truth, params):
    """Each lane's parquet output against its SparkEntry.oracleSql run in
    DuckDB over the same lake, as the repository's oracle gate compares."""
    problems = [f"lane {n} not in SparkEntry.queries" for n in rec["missing_lanes"]]
    failed = {o["tag"].split(":", 1)[1] for o in rec["ops"] if o["kind"] == "check" and not o["ok"]}
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in LAKE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{truth['lake']}/{t}.parquet')")
    for lane in params["lanes"]:
        if lane in failed or lane in rec["missing_lanes"]:
            problems.append(f"lane {lane}: no output to check")
            continue
        files = glob.glob(os.path.join(rec["check_dir"], lane, "*.parquet"))
        if not files:
            problems.append(f"lane {lane}: no parquet written")
            continue
        got = pq.read_table(files)
        sql = rec["oracle_sql"].get(lane)
        if sql is None:
            if got.num_rows == 0:
                problems.append(f"lane {lane}: no oracle and no rows")
            continue
        try:
            exp = con.execute(sql).arrow()
        except duckdb.Error as e:
            problems.append(f"lane {lane}: oracle failed in DuckDB: {e}")
            continue
        gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
        if gcols != ecols:
            problems.append(f"lane {lane}: columns {gcols}, oracle {ecols}")
            continue
        grows = sorted(zip(*[got.column(c).to_pylist() for c in gcols]), key=_sortkey) \
            if got.num_rows else []
        erows = sorted(zip(*[exp.column(c).to_pylist() for c in ecols]), key=_sortkey) \
            if exp.num_rows else []
        if len(grows) != len(erows):
            problems.append(f"lane {lane}: {len(grows)} rows, oracle {len(erows)}")
            continue
        for i, (g, e) in enumerate(zip(grows, erows)):
            bad = [(c, gv, ev) for c, gv, ev in zip(gcols, g, e) if not _values_equal(gv, ev)]
            if bad:
                problems.append(f"lane {lane}: row {i} column {bad[0][0]}: "
                                f"{bad[0][1]!r} vs oracle {bad[0][2]!r}")
                break
    return problems


def _ids(path):
    return set(pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist())


def _families(pairs):
    """{member id: family key} for (copy, original) pairs."""
    fam = {}
    for copy, orig in pairs:
        fam[copy] = orig
        fam.setdefault(orig, orig)
    return fam


def _dropped_have_smaller_kin(dropped, present, family):
    """Problems for dropped ids with no family member of smaller id that was
    present at the stage's input (the keep rule drops the larger id of a
    confirmed pair)."""
    members = defaultdict(set)
    for i in present:
        if i in family:
            members[family[i]].add(i)
    bad = [d for d in dropped if d not in family or min(members[family[d]]) >= d]
    return bad


def _corpus(rec, truth, params):
    problems = []
    outs = rec["passes"][-1]["outputs"]
    failed = [o["kind"] for o in rec["ops"] if o["kind"] in outs and not o["ok"]]
    if failed:
        return [f"stage {failed[0]} failed; outputs not checked"]
    ids, kind, origin = truth["ids"], truth["kind"], truth["origin_id"]
    text = dict(zip(*[pq.read_table(os.path.join(params["corpus"], "corpus.parquet"),
                                    columns=[c]).column(c).to_pylist()
                      for c in ("doc_id", "text")]))
    source = dict(zip(ids, truth["source"]))
    got = {st: _ids(p) for st, p in outs.items()}

    def expect(stage, want):
        if got[stage] != want:
            extra, missing = got[stage] - want, want - got[stage]
            problems.append(f"{stage}: kept {len(got[stage])}, expected {len(want)} "
                            f"({len(extra)} unexpected, {len(missing)} missing)")

    s1 = {i for i, k in zip(ids, kind) if k != "junk"}
    expect("quality", s1)
    s2 = {i for i, k in zip(ids, kind) if k not in ("junk", "contaminated")}
    expect("decontaminate", s2 & got["quality"])
    first = {}
    for i in sorted(got["decontaminate"]):
        first.setdefault(text[i], i)
    expect("exact_dedup", set(first.values()))
    texts = [text[i] for i in got["exact_dedup"]]
    if len(set(texts)) != len(texts):
        problems.append("exact_dedup: survivors share text")
    family = {i: o for i, o, k in zip(ids, origin, kind) if k in ("base", "exact_dup", "near_dup")}
    dropped = got["exact_dedup"] - got["near_dedup"]
    if got["near_dedup"] - got["exact_dedup"]:
        problems.append("near_dedup: kept documents its input did not have")
    bad = _dropped_have_smaller_kin(dropped, got["exact_dedup"], family)
    if bad:
        problems.append(f"near_dedup: dropped {len(bad)} documents with no injected near "
                        f"duplicate of smaller id, e.g. {bad[0]}")
    budget = params["sample_budget"]
    s4 = sorted(got["near_dedup"])
    expect("sample", gen.temperature_keep(s4, [source[i] for i in s4], budget))
    dropped = got["sample"] - got["semantic_dedup"]
    if got["semantic_dedup"] - got["sample"]:
        problems.append("semantic_dedup: kept documents its input did not have")
    bad = _dropped_have_smaller_kin(dropped, got["sample"], _families(truth["vector_pairs"]))
    if bad:
        problems.append(f"semantic_dedup: dropped {len(bad)} vectors with no injected near "
                        f"duplicate of smaller id, e.g. {bad[0]}")
    return problems
