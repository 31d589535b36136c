"""replay_small: 28 of the 48 driver queries plus the VPL leg, replayed over
a seeded table set, closed loop with one client (the next query starts when
the previous one has returned its result).

The 28 cover every operator family: relational and window operators,
joins and enrichment, SASE sequences with negation, Kleene and AND, GRETA
and Hamlet trends, text, multimodal, the LSH/IVF near-dup family and its
clustering, scoring, forecasting, schemaless props and compiled VPL
functions. The other 20 are cheaper siblings of these: a cold pass over
all 48 takes about 45 s on a 4-core host, too long for the benchmark's
per-run time budget.

Each query is built by its `queries()` constructor, planned, and forced by
collecting its full result as Arrow. Collecting (rather than `count()`)
computes every output column, so no projection is pruned away, and it
hands the timed result itself to the correctness check: after the pass,
outside the timed region, each result's row count and order-free digest
are compared with the DuckDB oracle from `__spark_entry__.oracle_sql()`.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import hashlib
import json
import os
import subprocess
import sys
import time

import datagen
import host
from harness import WORK, QueryWatchdog, pct
import spans
import vpl_leg
from spans import NullTracer

# datagen scale factors: 10k events over 150 users, the TPC-H tables and
# embeddings at the same scale, and a 250-document corpus, small enough
# that the quadratic near-dup oracles finish in a few seconds
SIZES = {"events": 0.01, "tpch": 0.01, "embeddings": 0.01, "documents": 0.005}
TABLES = ("events", "documents", "embeddings", *datagen.STAR_TABLES)

ORACLE_TIMEOUT_S = 120

QUERIES = (
    "high_value_filter", "pricing_summary", "tumbling_1h", "session_30m",
    "count_window_20", "windowed_join_10m", "enrich_orders", "ema_macd",
    "merge_union", "top_orders", "seq_signup_purchase", "seq_no_error",
    "kleene_maximal", "and_pattern", "greta_windowed", "greta_rising",
    "trend_multi", "text_stats", "multimodal_meta", "minhash_near_dup",
    "simhash_near_dup", "near_dup_clusters", "ann_ivf", "ivf_near_dup",
    "score_mlp", "forecast_pst", "props_dynamic", "collatz_steps",
)

# Python-kernel families of the per-layer metrics: `dedup` is
# operators.dedup + operators.similarity, `cep` is operators.sase, greta,
# zdd, forecast and score
FAMILY = {
    **dict.fromkeys(
        ["exact_dedup_docs", "knn_cosine", "embedding_near_dup", "minhash_near_dup",
         "simhash_near_dup", "minshingle_near_dup", "near_dup_clusters", "ann_ivf",
         "ivf_near_dup", "ivf_near_dup_t85", "embedding_near_dup_capped"],
        "dedup",
    ),
    **dict.fromkeys(
        ["seq_signup_purchase", "seq_no_error", "kleene_purchases", "kleene_maximal",
         "kleene_deferred", "and_pattern", "greta_trend_count", "greta_windowed",
         "greta_rising", "trend_multi", "score_mlp", "score_sequence", "forecast_pst",
         "forecast_runs", "vpl:SignupToPurchase"],
        "cep",
    ),
}


# ---------------------------------------------------------------------------
# order-free digests
# ---------------------------------------------------------------------------

_EPOCH = datetime.datetime(1970, 1, 1)


def _norm(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - _EPOCH) // datetime.timedelta(microseconds=1)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-free digest) over name-sorted columns: the sum
    mod 2^64 of a hash of each normalized row."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for r in rows:
        key = repr(tuple(_norm(r[i]) for i in order)).encode()
        acc = (acc + int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")) % 2**64
        n += 1
    return n, f"{acc:016x}"


def arrow_digest(table) -> tuple[int, str]:
    data = [col.to_pylist() for col in table.columns]
    return digest(table.column_names, zip(*data))


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _components(pairs) -> list[tuple[int, int, int]]:
    """(doc_id, canon_id, cluster_size) of the connected components of an
    id-pair graph, canon_id = the component's smallest id."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    canon = {x: find(x) for x in parent}
    size: dict[int, int] = {}
    for c in canon.values():
        size[c] = size.get(c, 0) + 1
    return [(x, c, size[c]) for x, c in canon.items()]


def oracle_digests(entry, data_dir: str) -> dict[str, tuple[list[str], int, str]]:
    """name -> (sorted column names, rows, digest) from DuckDB. The
    `near_dup_clusters` oracle SQL is the connected components of the
    `minshingle_near_dup` oracle's pairs (a recursive CTE costing tens of
    seconds at a few hundred documents); the components of that same pair
    set are computed here instead."""
    import duckdb

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data_dir
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    sqls = entry.oracle_sql()
    for name in QUERIES:
        if name == "near_dup_clusters":
            res = con.execute(sqls["minshingle_near_dup"])
            cols = [d[0] for d in res.description]
            ia, ib = cols.index("id_a"), cols.index("id_b")
            comp = _components((r[ia], r[ib]) for r in res.fetchall())
            cl_cols = ["doc_id", "canon_id", "cluster_size"]
            out[name] = (sorted(cl_cols), *digest(cl_cols, comp))
            continue
        res = con.execute(sqls[name])
        cols = [d[0] for d in res.description]
        out[name] = (sorted(cols), *digest(cols, res.fetchall()))
    for name, (cols, sql) in vpl_leg.ORACLES.items():
        res = con.execute(sql)
        out[f"vpl:{name}"] = (sorted(cols), *digest(cols, res.fetchall()))
    con.close()
    return out


# ---------------------------------------------------------------------------
# one pass
# ---------------------------------------------------------------------------


class Replay:
    """The replay_small item list bound to one data directory."""

    def __init__(self, entry, data_dir: str):
        self.data_dir = data_dir
        self.queries = entry.queries()

    def items(self) -> list[str]:
        return [*QUERIES, "vpl"]

    def _run_query(self, spark, tracer, name: str):
        with tracer.span("stream.build", query=name):
            df = self.queries[name](spark, self.data_dir)
        return {name: df}

    def _run_vpl(self, spark, tracer):
        from varpulis_spark import Stream
        from varpulis_spark.vpl import run_program
        from varpulis_spark.vpl.parser import parse_full

        with tracer.span("vpl.parse"):
            parse_full(vpl_leg.PROGRAM)
        with tracer.span("vpl.compile"):
            res = run_program(vpl_leg.PROGRAM, Stream.events(spark, self.data_dir))
        return {f"vpl:{k}": res[k].select(*vpl_leg.ORACLES[k][0]) for k in res}

    def run_pass(self, spark, watchdog, tracer=NullTracer()) -> dict:
        """Run every item once; returns per-item latency (s), the wall of
        the pass and the collected Arrow results."""
        from varpulis_spark.operators.dedup import release_caches

        lat: dict[str, float] = {}
        results: dict = {}
        errors: dict[str, str] = {}
        t_pass = time.perf_counter()
        for item in self.items():
            t0 = time.perf_counter()
            watchdog.arm()
            try:
                with tracer.span("query", query=item):
                    if item == "vpl":
                        frames = self._run_vpl(spark, tracer)
                    else:
                        frames = self._run_query(spark, tracer, item)
                    for name, df in frames.items():
                        with tracer.span("spark.plan", query=name):
                            df._jdf.queryExecution().executedPlan()
                        with tracer.span("spark.action", query=name):
                            results[name] = df.toArrow()
            except Exception as e:  # noqa: BLE001 - one failed query is counted, the pass goes on
                errors[item] = f"{type(e).__name__}: {e}"[:500]
            finally:
                watchdog.disarm()
                release_caches()
                spark.catalog.clearCache()
            lat[item] = time.perf_counter() - t0
        return {
            "wall_s": time.perf_counter() - t_pass,
            "latency_s": lat,
            "results": results,
            "errors": errors,
        }


def check_pass(res: dict, oracles: dict) -> dict[str, str]:
    """result name -> failure reason for every result of the pass that is
    missing or differs from its oracle (columns, row count or digest)."""
    bad = {}
    for name, (ocols, orows, odig) in oracles.items():
        table = res["results"].get(name)
        if table is None:
            item = "vpl" if name.startswith("vpl:") else name
            bad[name] = res["errors"].get(item, "no result")
            continue
        cols = sorted(table.column_names)
        n, dig = arrow_digest(table)
        if cols != ocols:
            bad[name] = f"columns {cols} != oracle {ocols}"
        elif n != orows:
            bad[name] = f"{n} rows != oracle {orows}"
        elif dig != odig:
            bad[name] = f"digest {dig} != oracle {odig}"
    return bad


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


def _timed_pass(replay, spark, watchdog, tracer=NullTracer()) -> dict:
    cpu0 = host.tree_cpu_s()
    res = replay.run_pass(spark, watchdog, tracer)
    res["cpu_s"] = host.tree_cpu_s() - cpu0
    return res


def run(args, run_dir: str, Session) -> dict:
    import __spark_entry__ as entry

    data_dir = datagen.make_tables(
        os.path.join(WORK, "data", f"replay_small-{args.seed}"), args.seed, SIZES
    )
    # The DuckDB oracles run in a child process while the JVM starts and
    # finish before the second set-up cycle, so the median set-up time does
    # not include them. Not a thread: forking the JVM while this process
    # runs BLAS (the IVF oracle trains centroids) can hang in OpenBLAS's
    # fork handler.
    oracle_path = os.path.join(run_dir, "oracles.json")
    oracle_proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), data_dir, oracle_path])
    oracles: dict = {}

    def load_oracles():
        if oracle_proc.wait(timeout=ORACLE_TIMEOUT_S) != 0:
            raise RuntimeError("the DuckDB oracles failed")
        with open(oracle_path) as f:
            oracles.update({k: tuple(v) for k, v in json.load(f).items()})

    replay = Replay(entry, data_dir)
    sess = Session([os.path.join(data_dir, f"{t}.parquet") for t in TABLES])
    with host.TreeSampler() as tree:
        try:
            setup_s, setup_all = sess.setup(os.cpu_count(), after_first=load_oracles)
        finally:
            if oracle_proc.poll() is None:
                oracle_proc.kill()
            oracle_proc.wait()
        watchdog = QueryWatchdog(sess.spark)
        # one measured pass, which outlasts --seconds; the traced variant
        # traces it
        tracer = spans.Tracer(os.path.basename(run_dir), sess.spark) if args.trace else NullTracer()
        logs = os.path.join(run_dir, "eventlog")
        with (spans.EventLogRecorder(sess.spark, logs, "first") if args.trace
              else contextlib.nullcontext()) as rec:
            first = _timed_pass(replay, sess.spark, watchdog, tracer)
        checks = [check_pass(first, oracles)]
        if args.trace:
            layers, traced_checks = _traced(
                run_dir, replay, sess, oracles, spans.EventLog(rec.path), tracer.spans)
            checks += traced_checks
        sess.stop()
    lat_ms = [v * 1000 for v in first["latency_s"].values()]
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": first["wall_s"], "unit": "s"},
        "cpu_s": {"value": first["cpu_s"], "unit": "s"},
        "peak_rss_mb": {"value": tree.peak_bytes() / 2**20, "unit": "MB"},
        "latency_p50_ms": {"value": pct(lat_ms, 0.5), "unit": "ms"},
        "latency_p99_ms": {"value": pct(lat_ms, 0.99), "unit": "ms"},
    }
    attempted = len(oracles) * len(checks)
    failed = sum(len(c) for c in checks)
    extra = {
        "failed_frac": {"value": failed / attempted, "unit": "ratio"},
        "queries": {"value": len(lat_ms), "unit": "count"},
        "setup_first_s": {"value": setup_all[0], "unit": "s"},
    }
    return {
        "metrics": spans.as_metrics(layers) if args.trace else metrics,
        "extra": {**extra, **(metrics if args.trace else {})},
        "attempted": attempted,
        "failed": failed,
        "failures": {k: v for c in checks for k, v in c.items()},
        "detail": {
            "setup_s_all": setup_all,
            "pass": {k: first[k] for k in ("wall_s", "cpu_s", "latency_s", "errors")},
        },
    }


def _traced(run_dir, replay, sess, oracles, log, span_list) -> tuple[dict, list]:
    """Per-layer metrics of the traced first pass; then untraced, traced
    and untraced passes on the same warm session (the traced one over the
    mean of the two around it is the tracing overhead, with a steady
    warm-up trend cancelled), and one untraced pass on local[1]."""
    spark = sess.spark
    watchdog = QueryWatchdog(spark)
    before = _timed_pass(replay, spark, watchdog)
    with spans.EventLogRecorder(spark, os.path.join(run_dir, "eventlog"), "warm"):
        traced = _timed_pass(replay, spark, watchdog,
                             spans.Tracer(os.path.basename(run_dir) + "-warm", spark))
    after = _timed_pass(replay, spark, watchdog)
    untraced_s = (before["wall_s"] + after["wall_s"]) / 2
    sess.start(1)
    single = _timed_pass(replay, sess.spark, QueryWatchdog(sess.spark))

    layers = batch_layers(log, span_list)
    layers["spark.speedup_1core"] = single["wall_s"] / untraced_s
    layers["trace.overhead_frac"] = traced["wall_s"] / untraced_s - 1
    per_query = {
        q: spans.layer_totals(log, spans.span_keys(span_list, query=q))
        for q in {s["query"] for s in span_list if "query" in s}
    }
    with open(os.path.join(run_dir, "trace.json"), "w") as f:
        json.dump({"spans": span_list, "per_query": per_query,
                   "walls": {"warm_untraced": [before["wall_s"], after["wall_s"]],
                             "warm_traced": traced["wall_s"], "local1": single["wall_s"],
                             "local1_master": sess.spark.sparkContext.master}},
                  f, default=str)
    return layers, [check_pass(p, oracles) for p in (before, traced, after, single)]


def batch_layers(log, span_list) -> dict:
    def dur(name):
        return sum(s["end"] - s["start"] for s in span_list if s["name"] == name)

    tot = spans.layer_totals(log)
    out = {
        "vpl.parse_s": dur("vpl.parse"),
        "vpl.compile_s": max(0.0, dur("vpl.compile") - dur("vpl.parse")),
        "stream.build_s": dur("stream.build"),
        "stream.build_jobs": spans.layer_totals(
            log, spans.span_keys(span_list, name="stream.build"))["jobs"],
        "spark.plan_s": dur("spark.plan"),
        "spark.driver_gap_s": spans.driver_gap_s(
            log, [s for s in span_list if s["name"] == "spark.action"]),
        **spans.engine_layers(tot),
    }
    for fam in ("dedup", "cep"):
        keys = {f"{s['run']}:{s['id']}" for s in span_list if FAMILY.get(s.get("query")) == fam}
        out.update(spans.pykernel_layers(fam, spans.layer_totals(log, keys)))
    return out


if __name__ == "__main__":
    # python3 replay.py DATA_DIR OUT.json: write the oracle digests
    import __spark_entry__

    with open(sys.argv[2], "w") as f:
        json.dump(oracle_digests(__spark_entry__, sys.argv[1]), f)
