"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (plus the LLM-pipeline extensions); `oracle_sql()` gives the
DuckDB-equivalent SQL. Column names and value representations are engineered
to hash-match:

- timestamps are emitted as epoch microseconds (unix_micros / epoch_us) —
  exact integer equality, no tz/precision ambiguity;
- double SUMs go through decimal(18,2|4) so the addition is exact and
  order-independent, then cast back to double (both engines produce the
  nearest double of the same exact decimal);
- elementwise double arithmetic (ratios, products) is IEEE-identical across
  engines and is left untouched; order-dependent folds (EMA) and variance
  results are rounded to 6 decimals on both sides;
- ANN top-k emits ids + rank only (ranking at full float64 precision).

Every query has an oracle entry since r9: `forecast_pst` is hash-checked
against a full DuckDB port of the PST + Hawkes completion probability
(`_forecast_pst_oracle_sql` — variable-order Markov counts as windowed
n-gram joins, the Hawkes intensity fold as a recursive CTE, the linear-NFA
fixed point in closed form); calibration/discrimination stay pinned in
tests/test_extensions.py.
`minhash_near_dup` and `simhash_near_dup` are fully oracle-checked since
r8: the OPH/SimHash kernels are deterministic 64-bit integer arithmetic
(FNV rolling hash → murmur finalizer → per-(doc,bin) min / bit votes),
ported verbatim into DuckDB HUGEINT/UBIGINT SQL (`_minhash_oracle_sql` /
`_simhash_oracle_sql`); banding groups by the band TUPLE, which is
equivalent to Spark's xxhash64 bucket modulo 2^-64 collisions.
Every other query is oracle-checked — including
`score_mlp`, where REAL .onnx inference (the pure-numpy mini-runtime)
hash-matches a SQL oracle carrying the f32-rounded weights as literals —
including the three non-obvious ones: `kleene_purchases` verifies the
exhaustive Kleene enumeration through the binomial identity C(k, m) per
anchor pair; `greta_rising` verifies the predicate-gated GRETA DP via a
recursive CTE carrying the per-user DP arrays; `multimodal_meta` runs the
binary encode→decode→frame-sample plumbing against a closed-form oracle
(the fake image is a pure function of the row).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from varpulis_spark import Stream
from varpulis_spark import engine
from varpulis_spark.engine import load_table
from varpulis_spark.operators import aggregates as A
from varpulis_spark.operators import dedup as D
from varpulis_spark.operators import similarity as SIM
from varpulis_spark.operators import text as T
from varpulis_spark.operators.sase import Pattern, not_step, step

SF_SMALL = "/root/testdata/sf0.001"


def _dsum(c, scale: int = 2):
    """Order-independent double sum: exact decimal accumulation."""
    return F.sum(F.col(c).cast(f"decimal(18,{scale})") if isinstance(c, str) else c.cast(f"decimal(18,{scale})")).cast("double")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: high-value filter→emit (HVAC HighTemp shape, reference
    README.md:80-84) on sf0.001."""
    return queries()["high_value_filter"](spark, SF_SMALL)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_high_value_filter(spark, sf):
    return (
        Stream.events(spark, sf)
        .where(F.col("value") > 150)
        .emit("HighValue", event_id=F.col("event_id"), user_id=F.col("user_id"), value=F.col("value"))
        .select(
            F.col("event_id"), F.col("user_id"), F.col("value"),
            F.unix_micros(F.col("ts")).alias("ts_us"),
        )
        .df
    )


def q_pricing_summary(spark, sf):
    li = load_table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        Stream.from_df(li, ts_col="l_shipdate")
        .partition_by("l_returnflag", "l_linestatus")
        .aggregate(
            sum_qty=_dsum("l_quantity"),
            sum_base_price=_dsum("l_extendedprice"),
            sum_disc_price=F.sum(disc_price.cast("decimal(18,4)")).cast("double"),
            count_order=A.count(),
        )
        .df.withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
                "sum_disc_price", "avg_qty", "count_order")
    )


def q_tumbling_1h(spark, sf):
    out = (
        Stream.events(spark, sf)
        .partition_by("user_id")
        .window("1h")
        .aggregate(n=A.count(), total=_dsum("value"), mx=A.max("value"))
    )
    return out.df.select(
        "user_id", F.unix_micros(F.col("window_start")).alias("ws_us"), "n", "total", "mx"
    )


def q_sliding_2h1h(spark, sf):
    out = Stream.events(spark, sf).window("2h", sliding="1h").aggregate(n=A.count(), mx=A.max("value"))
    return out.df.select(F.unix_micros(F.col("window_start")).alias("ws_us"), "n", "mx")


def q_session_30m(spark, sf):
    out = (
        Stream.events(spark, sf)
        .partition_by("user_id")
        .window(session="30m")
        .aggregate(n=A.count(), total=_dsum("value"))
    )
    return out.df.select("user_id", "n", "total")


def q_count_window_20(spark, sf):
    # window size 20: ~66 events/user at sf0.001 → ≥1 full window per user
    # (a 100-window never completed — vacuous 0-row check)
    out = (
        Stream.events(spark, sf)
        .partition_by("user_id")
        .window(20)
        .aggregate(n=A.count(), total=_dsum("value"))
    )
    return out.df.select("user_id", F.col("window_id").cast("long").alias("win"), "n", "total")


def q_sliding_count_window(spark, sf):
    out = (
        Stream.events(spark, sf)
        .partition_by("user_id")
        .window(50, sliding=25)
        .aggregate(n=A.count(), total=_dsum("value"))
    )
    return out.df.select("user_id", F.col("window_id").cast("long").alias("win"), "n", "total")


def q_distinct_earliest(spark, sf):
    return (
        Stream.events(spark, sf)
        .distinct("user_id", "event_type")
        .select("user_id", "event_type", "event_id")
        .df
    )


def q_merge_union(spark, sf):
    from varpulis_spark.stream import merge

    a = Stream.events(spark, sf, "purchase").where(F.col("value") > 100)
    b = Stream.events(spark, sf, "error")
    return merge(a, b).select("event_id", "event_type", "value").df


def q_windowed_join_10m(spark, sf):
    p = Stream.events(spark, sf, "purchase")
    e = Stream.events(spark, sf, "error")
    out = p.join(e, on="user_id", window="10m", self_alias="p", other_alias="e")
    return out.df.select(
        F.col("user_id"),
        F.col("p_event_id").alias("p_id"),
        F.col("e_event_id").alias("e_id"),
    )


def q_windowed_join_3way(spark, sf):
    """N-way windowed equi-join (join.rs JoinBuffer n-source semantics:
    one merged event per key-matching tuple whose events all lie within
    the window). Three chained equi-joins with pairwise time bands — the
    same lowering the streaming side runs with watermark-bounded state."""
    a = Stream.events(spark, sf, "view")
    b = Stream.events(spark, sf, "click")
    c = Stream.events(spark, sf, "view")
    out = a.join(b, on="user_id", window="2h", self_alias="a", other_alias="b", c=c)
    return out.df.select(
        F.col("user_id"),
        F.col("a_event_id").alias("a_id"),
        F.col("b_event_id").alias("b_id"),
        F.col("c_event_id").alias("c_id"),
    )


def q_enrich_orders(spark, sf):
    orders = Stream.from_df(load_table(spark, sf, "orders"), ts_col="o_orderdate")
    cust = load_table(spark, sf, "customer")
    out = orders.enrich(cust, key="o_custkey", dim_key="c_custkey", fields=["c_name", "c_mktsegment"])
    return out.df.select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


def q_stats_by_type(spark, sf):
    out = (
        Stream.events(spark, sf)
        .partition_by("event_type")
        .aggregate(
            sd=A.stddev("value"),
            nd=A.count_distinct("user_id"),
            first_v=A.first("value"),
            last_v=A.last("value"),
            med=A.median("value"),
        )
    )
    return out.df.select("event_type", F.round("sd", 6).alias("sd"), "nd", "first_v", "last_v", "med")


def q_ema_macd(spark, sf):
    out = (
        Stream.events(spark, sf)
        .partition_by("user_id")
        .aggregate(e12=A.ema("value", 12), macd=A.ema("value", 12) - A.ema("value", 26))
    )
    return out.df.select("user_id", F.round("e12", 6).alias("e12"), F.round("macd", 6).alias("macd"))


def q_having_active_users(spark, sf):
    return (
        Stream.events(spark, sf)
        .partition_by("user_id")
        .aggregate(n=A.count())
        .having(F.col("n") > 50)
        .df.select("user_id", "n")
    )


def q_top_orders(spark, sf):
    s = Stream.from_df(load_table(spark, sf, "orders"), ts_col="o_orderdate")
    return s.order_by(F.col("o_totalprice").desc()).limit(10).select("o_orderkey", "o_totalprice").df


def q_seq_signup_purchase(spark, sf):
    p = Pattern(
        steps=[step("signup", "a"), step("purchase", "b")],
        within="24h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"), "b_id": ("b", "event_id")},
    )
    return Stream.events(spark, sf).partition_by("user_id").pattern(p).df


def q_seq_no_error(spark, sf):
    p = Pattern(
        steps=[step("signup", "a"), not_step("error"), step("purchase", "b")],
        within="24h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"), "b_id": ("b", "event_id")},
    )
    return Stream.events(spark, sf).partition_by("user_id").pattern(p).df


def q_kleene_purchases(spark, sf):
    """Exhaustive Kleene closure, aggregated to an oracle-checkable form:
    the NFA enumerates EVERY non-empty purchase subset between each
    (signup, error) anchor pair; grouping the enumerated matches by subset
    size m must yield exactly C(k, m) per anchor (k = purchases in the
    window) — a combinatorial identity DuckDB can compute without
    enumeration. Full-row enumeration is exercised underneath; the binomial
    check fails if the closure over- or under-enumerates ANY subset size."""
    p = Pattern(
        steps=[step("signup", "a"), step("purchase", "bs", kleene="+"), step("error", "c")],
        within="48h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "n_purchases": ("bs", "__count"), "c_id": ("c", "event_id")},
    )
    matches = Stream.events(spark, sf).partition_by("user_id").pattern(p).df
    return matches.groupBy("user_id", "a_id", "c_id", "n_purchases").agg(
        F.count(F.lit(1)).alias("n_matches")
    )


def q_kleene_maximal(spark, sf):
    """Reference RUN semantics (kleene_emit='maximal', sase.rs:2691-2735 —
    runs never fork): one run per signup, purchases accumulate greedily,
    the FIRST error after ≥1 purchase closes and consumes the run. The
    oracle computes each run deterministically: p1 = first purchase after
    the signup, e = first error after p1 (both inside the 48h deadline),
    n = purchases strictly between signup and e (capped at the reference's
    20-event accumulation limit, sase.rs:36-39)."""
    p = Pattern(
        steps=[step("signup", "a"), step("purchase", "bs", kleene="+"),
               step("error", "c")],
        within="48h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "c_id": ("c", "event_id"), "n_purchases": ("bs", "__count")},
        kleene_emit="maximal",
    )
    return Stream.events(spark, sf).partition_by("user_id").pattern(p).df


def q_kleene_deferred(spark, sf):
    """Deferred (postponed, SIGMOD'14) Kleene predicate through the ZDD
    capture: accumulation is type-only; at completion the non-empty
    purchase combinations where EVERY value < the closing error's value
    are enumerated (CompleteMulti → enumerate_with_filter,
    operators/zdd.py). Aggregated by subset size m, the counts must equal
    C(k', m) where k' = qualifying purchases in the run's window — the
    binomial identity over the PREDICATE-FILTERED candidate set (a
    predicate evaluated against completion-time bindings, which no inline
    check could express)."""
    p = Pattern(
        steps=[
            step("signup", "a"),
            step("purchase", "bs", kleene="+", deferred=True,
                 where=lambda evs, b: all(
                     e["value"] < b["c"]["value"] for e in evs)),
            step("error", "c"),
        ],
        within="48h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "c_id": ("c", "event_id"), "n_purchases": ("bs", "__count")},
        kleene_emit="maximal",
    )
    matches = Stream.events(spark, sf).partition_by("user_id").pattern(p).df
    return matches.groupBy("user_id", "a_id", "c_id", "n_purchases").agg(
        F.count(F.lit(1)).alias("n_matches")
    )


def q_and_pattern(spark, sf):
    """AND(signup, error) — any-order conjunction (AndState
    sase.rs:738-772): both events within the 2h budget regardless of
    arrival order. Lowered as the union of both SEQ permutations; oracle =
    the two-sided time-band join."""
    p = Pattern(
        steps=[step("signup", "a"), step("error", "b")],
        within="2h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "b_id": ("b", "event_id")},
        any_order=True,
    )
    return Stream.events(spark, sf).partition_by("user_id").pattern(p).df


def q_greta_windowed(spark, sf):
    """Whole-span `within` via pane composition (GRETA §5): purchase trends
    per user per 6h tumbling pane. Predicate-free closed form per pane
    (2^n − 1) gives the SQL oracle; the pane boundary is the span bound."""
    out = (
        Stream.events(spark, sf)
        .partition_by("user_id")
        .window("6h")
        .trend_aggregate(event_type="purchase")
    )
    return out.df.select(
        "user_id",
        F.unix_micros(F.col("window_start")).alias("w_start_us"),
        "trend_count",
        "event_count",
    )


def q_greta_trend_count(spark, sf):
    """GRETA: per-user count of ALL purchase trends (every non-empty ordered
    subset) — closed form 2^n − 1 gives the SQL oracle."""
    out = (
        Stream.events(spark, sf)
        .partition_by("user_id")
        .trend_aggregate(event_type="purchase")
    )
    return out.df.select("user_id", "trend_count", "event_count")


def q_greta_rising(spark, sf):
    """GRETA with a rising adjacency predicate — no closed form, but the
    DP recurrence itself is SQL-expressible as a recursive CTE carrying
    the per-user (value, cnt, val) arrays, so the predicate-gated path is
    oracle-checked too. Uses the vectorized adjacency mask (one numpy
    comparison per event); value_sum rounded (order-dependent float
    accumulation differs between numpy pairwise and SQL sequential sums)."""
    out = (
        Stream.events(spark, sf)
        .partition_by("user_id")
        .trend_aggregate(
            event_type="purchase",
            adjacent_vec=lambda cols, i: cols["value"][:i] < cols["value"][i],
            value_field="value",
        )
    )
    return out.df.select(
        "user_id", "trend_count", F.round("value_sum", 6).alias("value_sum")
    )


def q_trend_multi(spark, sf):
    """Hamlet multi-query trend aggregation: 10 queries (5 event types ×
    {count, value-sum} variants) answered in ONE pass — shared scan,
    shuffle, sort, and per-sub-pattern graphlet counts (greta.py
    trend_aggregate_multi; reference runtime/src/hamlet/). Counts are
    closed-form (2^n−1, n·2^(n−1)) so the oracle is exact; value sums are
    computed (shared DP matrix columns) but projected out (power-of-two
    scaled float sums differ in final ulps across engines)."""
    from varpulis_spark.operators.greta import trend_aggregate_multi

    types = ["purchase", "view", "error", "login", "signup"]
    queries_spec = {}
    for t in types:
        queries_spec[f"{t}_count"] = {"event_type": t}
        queries_spec[f"{t}_val"] = {"event_type": t, "value_field": "value"}
    s = Stream.events(spark, sf).partition_by("user_id")
    out = trend_aggregate_multi(s, queries_spec)
    # zero-count rows are suppressed like the reference's flush()
    # (greta.rs flush: filter(count > 0))
    return out.filter(F.col("trend_count") > 0).select(
        "user_id", "query", "trend_count", "event_count"
    )


def q_lag_delta(spark, sf):
    """Previous-event tracker (delay/prev, reference window.rs:980,1071):
    per-user value delta vs the previous event."""
    out = (
        Stream.events(spark, sf)
        .partition_by("user_id")
        .prev("value")
    )
    # each user's first event has no predecessor — dropped so the result
    # is null-free (hash-stable across engines)
    return (
        out.df.filter(F.col("prev_value").isNotNull())
        .select(
            "user_id", "event_id", "value",
            F.round(F.col("value") - F.col("prev_value"), 6).alias("delta"),
        )
    )


def q_text_stats(spark, sf):
    # the tokenization/regex work is the whole query: spread fans it out by
    # the one size rule (engine.fanout_partitions)
    docs = engine.spread(load_table(spark, sf, "documents").select("doc_id", "text"))
    return T.with_text_stats(docs).select(
        "doc_id", "n_tokens", "n_subtokens", "punct_ratio", "stopword_ratio",
        F.round("quality", 6).alias("quality"), "fingerprint", "lang_pred",
    )


def q_lang_distribution(spark, sf):
    # tokenize+stopword filters are the query's CPU: spread fans them out
    # by the one size rule (engine.fanout_partitions)
    docs = engine.spread(load_table(spark, sf, "documents").select("text"))
    return (
        T.with_lang_id(docs)
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_exact_dedup_docs(spark, sf):
    docs = load_table(spark, sf, "documents")
    # fingerprint=True: the exchanges carry md5(text), never the document
    return D.exact_dedup(docs, on="text", id_col="doc_id", fingerprint=True).select(
        "doc_id", "dup_count"
    )


def q_multimodal_meta(spark, sf):
    """Multimodal plumbing end-to-end, oracle-checked: documents → fake
    image encode (mapInPandas, binary column) → header decode_metadata →
    video-style frame sampling with row expansion → per-doc metadata row.
    The image is a pure function of (doc_id, text), so DuckDB reproduces
    width/height/channels/frame-count without touching binary."""
    from varpulis_spark.operators import multimodal as MM

    # fan-out by the one size rule (engine.fanout_partitions)
    docs = engine.spread(load_table(spark, sf, "documents").select("doc_id", "text"))
    # persist the encoded frame: meta and frame-sampling both consume it,
    # and without the cache Spark computes the encode mapInPandas TWICE
    # (one per join branch — no common-subexpression reuse across plan
    # branches). `text` is also dropped BEFORE the downstream kernels so it
    # never round-trips the Python boundary again (guide: pass only the
    # columns the function needs). Released by the caller via clearCache or
    # dedup.release_caches (the op registry both bench and oracle use).
    from varpulis_spark.operators.dedup import _register_cache

    enc = _register_cache(
        MM.encode_fake_images(docs).select("doc_id", "content").persist()
    )
    meta = MM.decode_metadata(enc).select("doc_id", "width", "height", "channels")
    frames = MM.sample_frames(enc, every_n=10, frame_bytes=64)
    n_frames = frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_frames"))
    return meta.join(n_frames, "doc_id")


def q_audio_meta(spark, sf):
    """Audio multimodal plumbing, oracle-checked at the metadata level:
    documents → fake-PCM encode → framed feature extraction (RMS/ZCR rows)
    → per-doc (sample_rate, n_frames). The fake audio is a pure function
    of (doc_id, text): sample_rate = 8000 + 1000·(doc_id mod 5),
    n_samples = 4·octet_length(text); frames of 64 every 32 → DuckDB
    reproduces the frame count without touching binary. The RMS/ZCR
    values themselves verify against numpy in tests/test_extensions.py."""
    from varpulis_spark.operators import multimodal as MM

    # the PCM/feature kernel is the per-row cost: spread fans it out by the
    # one size rule (engine.fanout_partitions)
    docs = engine.spread(load_table(spark, sf, "documents").select("doc_id", "text"))
    enc = MM.encode_fake_audio(docs)
    feats = MM.audio_features(enc.select("doc_id", "audio"), frame=64, hop=32)
    return feats.groupBy("doc_id", "sample_rate").agg(
        F.count(F.lit(1)).alias("n_frames")
    )


def q_collatz_steps(spark, sf):
    """Imperative VPL fn in expression position (r7): the statement-bodied
    `collatz_len` (while/if/:=/return, core/src/ast.rs:38-106) runs through
    the compile-to-Python pandas-UDF path (vpl/pycompile.py) per event.
    DuckDB oracle: a bounded recursive CTE over the 100 possible seeds —
    integer semantics must agree exactly (Int/Int truncating division,
    evaluator.rs:1056)."""
    from varpulis_spark.vpl.compiler import run_program

    src = """
fn collatz_len(n0: int) -> int:
    var n = n0
    var steps = 0
    while n > 1:
        if n % 2 == 0:
            n := n / 2
        else:
            n := 3 * n + 1
        steps := steps + 1
    return steps

stream Out = purchase
    .emit(event_id: event_id, user_id: user_id, steps: collatz_len(event_id % 100 + 1))
"""
    # the compiled-fn pandas UDF is the per-row cost: spread fans it out by
    # the one size rule (engine.fanout_partitions)
    s = Stream.events(spark, sf)
    out = run_program(src, s._with(engine.spread(s.df)))["Out"]
    return out.select("event_id", "user_id", "steps")


def q_knn_cosine(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    out = SIM.cosine_topk(emb, queries_df, k=10)
    return out.select("query_id", "neighbor_id", "rank")


def q_embedding_near_dup(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return SIM.cosine_pairs(emb, threshold=0.4)


def q_minhash_near_dup(spark, sf):
    docs = load_table(spark, sf, "documents")
    # (the r13 footer-count hint is gone with the signature join-back it
    # sized — signatures ride the banding since r14, see minhash_near_dup_pairs)
    return D.minhash_near_dup_pairs(docs, threshold=0.4).select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def q_simhash_near_dup(spark, sf):
    docs = load_table(spark, sf, "documents")
    return D.simhash_near_dup_pairs(docs, max_hamming=3)


def q_ann_ivf(spark, sf):
    """IVF ANN — oracle-checked: training is byte-deterministic (seeded
    Lloyd on the id-sorted sample; at sf0.01 the full 500-row corpus),
    so the trained centroids can be re-derived locally from the parquet
    (train_ivf_centroids_parquet — equality pinned in
    tests/test_extensions.py) and inlined into the DuckDB oracle as
    literals; assignment, nprobe probing, and scoring are then plain SQL.
    Rank ties broken by neighbor_id in both engines."""
    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    # Train the coarse quantizer straight off the parquet when the footer
    # PROVES the corpus fits the 10k training sample: below the cap the
    # Spark path collects the full id-sorted corpus anyway, so the pyarrow
    # twin (the oracle's own path — byte-equality pinned in
    # tests/test_extensions.py) yields bit-identical centroids while
    # removing BOTH build-time Spark jobs (the sizing count and the
    # sample collect — guide §1.2/§5: the driver-side Lloyd was the
    # 8v32-core-flat tail in PERF_r13). Above the cap (or without footer
    # stats) training keeps the distributed hash-sample path.
    cents = _footer_trained_centroids(sf, n_clusters=32)
    return SIM.ivf_topk(
        emb, queries_df, k=10, n_clusters=32, nprobe=8, centroids=cents
    ).select("query_id", "neighbor_id", "rank")


def _footer_trained_centroids(sf: str, n_clusters: int | None):
    """Centroids from the driver-local parquet twin when the footer proves
    the corpus fits the 10k training sample (num_rows ≤ cap ⇒ the
    null-filtered count is too ⇒ the Spark path's sampling condition is
    TRUE and it collects the full id-sorted corpus — so the pyarrow twin,
    the oracle's own path with byte-equality pinned in
    tests/test_extensions.py, yields bit-identical centroids). Returns
    None above the cap or when the footer is unreadable, and the operator
    keeps the distributed hash-sample training path (the 100 TB shape).
    n_clusters=None applies ivf_near_dup_pairs' default formula over the
    null-filtered count, exactly as the operator would."""
    path = os.path.join(sf, "embeddings.parquet")
    total = engine.parquet_num_rows(path)
    if total is None or total == 0 or total > 10_000:
        return None
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from varpulis_spark.operators.similarity import _lloyd_spherical

    t = pq.read_table(path, columns=["vec_id", "embedding"])
    t = t.filter(pc.is_valid(t.column("embedding")))
    if t.num_rows == 0:
        return None  # operator's own empty-corpus path returns empty
    if n_clusters is None:
        n_clusters = max(8, min(256, t.num_rows // 64))
    # stable id sort, as the list sort of the oracle twin
    t = t.take(pc.sort_indices(t, sort_keys=[("vec_id", "ascending")]))
    vecs = t.column("embedding").combine_chunks()[:10_000]
    m = vecs.flatten().to_numpy(zero_copy_only=False).reshape(len(vecs), -1)
    m = m.astype(np.float64)
    return _lloyd_spherical(m, n_clusters, iters=10, seed=42)


def _ann_ivf_oracle_sql() -> str:
    """DuckDB twin of q_ann_ivf: centroids trained locally from the same
    parquet (byte-identical to the Spark-side training at sf0.01 — the
    sample is the full id-sorted corpus) and inlined as DOUBLE[] literals,
    the way score_mlp inlines its weights."""
    import os

    from varpulis_spark.operators.similarity import train_ivf_centroids_parquet

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    cent = train_ivf_centroids_parquet(
        f"{sf_dir}/embeddings.parquet", n_clusters=32
    )

    def lit(vec):
        return "[" + ",".join(repr(float(x)) for x in vec) + "]::DOUBLE[]"

    cent_values = ",".join(f"({c}, {lit(cent[c])})" for c in range(len(cent)))
    return f"""
        WITH cent(cluster, cvec) AS (VALUES {cent_values}),
        corpus AS (
          SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                    x -> x / greatest(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 1e-12)) AS v
          FROM embeddings WHERE embedding IS NOT NULL
        ),
        assign AS (
          SELECT vec_id, cluster,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY list_dot_product(v, cvec) DESC, cluster ASC) AS rn
          FROM corpus CROSS JOIN cent
        ),
        corpus_assigned AS (
          SELECT c.vec_id, c.v, a.cluster
          FROM corpus c JOIN assign a ON c.vec_id = a.vec_id AND a.rn = 1
        ),
        queries AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 8),
        probe AS (
          SELECT query_id, cluster,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY list_dot_product(qv, cvec) DESC, cluster ASC) AS rn
          FROM queries CROSS JOIN cent
        ),
        cand AS (
          SELECT q.query_id, ca.vec_id AS neighbor_id,
                 list_dot_product(q.qv, ca.v) AS score
          FROM queries q
          JOIN probe p ON p.query_id = q.query_id AND p.rn <= 8
          JOIN corpus_assigned ca ON ca.cluster = p.cluster
          WHERE ca.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id ASC) AS rank
          FROM cand
        ) WHERE rank <= 10
    """


def q_ivf_near_dup(spark, sf):
    """Embedding near-dup pairs via IVF blocking — the SCALE path for the
    exact O(n²) `embedding_near_dup` (similarity.py:ivf_near_dup_pairs):
    top-2 cluster assignment against byte-deterministic k-means centroids,
    per-cluster GEMM, distinct. Oracle-checked: the DuckDB twin re-derives
    the centroids from the same parquet (as ann_ivf does) and mirrors
    assignment, the id-ordered cluster cap, and cosine verification."""
    emb = load_table(spark, sf, "embeddings")
    # footer-trained centroids (see _footer_trained_centroids): identical
    # result, no build-time count/collect jobs at bench scales
    return SIM.ivf_near_dup_pairs(
        emb, threshold=0.4, centroids=_footer_trained_centroids(sf, None)
    )


def q_ivf_near_dup_t85(spark, sf):
    """IVF near-dup at threshold 0.85 — the DECADE-SCALE measurement twin
    of `ivf_near_dup`. Why a second threshold (PERF_NOTES r13, VERDICT
    r12 What's-wrong #2): the embeddings corpus is isotropic unit noise
    in d=64, whose random-pair cosine tail at 0.4 is ~5e-4 — so above a
    few thousand rows the 0.4 output is intrinsically ~n²·2.5e-4 for ANY
    faithful scale-up (a d=64 codebook with pairwise cos < 0.4 saturates
    near the base corpus size — sphere packing, not a corpus defect). At
    0.85 the isotropic tail is ~e^-23 ≈ 0, so the output is EXACTLY the
    derived corpora's planted ~1%-per-copy near-dup population
    (scripts/make_sf.py planted_slices) — O(n), which is what makes the
    sf1→sf10 eps ratio read engine scaling instead of output volume.
    At driver oracle scales the corpus has no planted pairs (max pair
    cosine 0.601 at sf0.1), so Spark and the oracle both return 0 rows —
    the non-vacuous correctness pins are the planted-recovery pytests
    (tests/test_extensions.py::test_ivf_near_dup_planted_recall and
    ::test_ivf_t85_recovers_derived_corpus_plants, which runs this exact
    operator+threshold on a make_sf-derived corpus)."""
    emb = load_table(spark, sf, "embeddings")
    return SIM.ivf_near_dup_pairs(
        emb, threshold=0.85, centroids=_footer_trained_centroids(sf, None)
    )


def q_embedding_near_dup_capped(spark, sf):
    """Fixed-budget EXACT near-dup (VERDICT r12 task 6): `embedding_near_dup`
    is excluded from sf1+ benches because exact all-pairs cosine is O(n²)
    by spec — which meant the exact kernel was never exercised above
    sf0.1. This variant runs the same exact verify over a deterministic
    4,000-row slice (ORDER BY md5(vec_id) — engine-identical sampling,
    unbiased by id locality), so the work is CONSTANT at any scale factor
    and a kernel regression surfaces at sf1/sf10 too. At oracle scales
    (≤2,000 rows) the slice is the whole corpus, so the oracle comparison
    is the full exact-pairs check, not vacuous."""
    emb = load_table(spark, sf, "embeddings")
    sample = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(4000)
    )
    return SIM.cosine_pairs(sample, threshold=0.4)


def _ivf_near_dup_oracle_sql(threshold: float = 0.4) -> str:
    """DuckDB twin of q_ivf_near_dup: centroids trained locally from the
    same parquet (byte-identical at oracle scales — the sample is the full
    id-sorted corpus) and inlined as DOUBLE[] literals; assignment,
    the cluster cap, and pair verification are then plain SQL."""
    import os

    import pyarrow.parquet as pq

    from varpulis_spark.operators.similarity import train_ivf_centroids_parquet

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    path = f"{sf_dir}/embeddings.parquet"
    t = pq.read_table(path, columns=["embedding"])
    n = len(t) - t.column("embedding").null_count
    nc = max(8, min(256, n // 64))  # ivf_near_dup_pairs' default formula
    cent = train_ivf_centroids_parquet(path, n_clusters=nc)

    def lit(vec):
        return "[" + ",".join(repr(float(x)) for x in vec) + "]::DOUBLE[]"

    cent_values = ",".join(f"({c}, {lit(cent[c])})" for c in range(len(cent)))
    return f"""
        WITH cent(cluster, cvec) AS (VALUES {cent_values}),
        corpus AS (
          SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                    x -> x / greatest(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 1e-12)) AS v
          FROM embeddings WHERE embedding IS NOT NULL
        ),
        asg AS (
          SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY list_dot_product(v, cvec) DESC, cluster ASC) AS rn
            FROM corpus CROSS JOIN cent)
          WHERE rn <= 2
        ),
        capped AS (
          SELECT cluster, vec_id FROM (
            SELECT cluster, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn
            FROM asg)
          WHERE rn <= 4096
        )
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM capped a
        JOIN capped b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN corpus ca ON ca.vec_id = a.vec_id
        JOIN corpus cb ON cb.vec_id = b.vec_id
        WHERE list_dot_product(ca.v, cb.v) >= {threshold}
    """


def q_minshingle_near_dup(spark, sf):
    """Deterministic near-dup: hashed-min-shingle blocking (OPH with md5 as
    the permutation) + exact 8-gram Jaccard, pure JVM — the
    oracle-checkable member of the near-dup family (minhash/simhash are
    seed-dependent)."""
    docs = load_table(spark, sf, "documents")
    return D.ngram_minshingle_pairs(docs, k=8, threshold=0.6)


def q_near_dup_clusters(spark, sf):
    """Semantic-dedup clustering: transitive closure over the deterministic
    near-dup pairs (min-label propagation connected components) →
    (doc_id, canon_id, cluster_size). The oracle computes the same
    components with a recursive CTE over the identical pair set."""
    docs = load_table(spark, sf, "documents")
    pairs = D.ngram_minshingle_pairs(docs, k=8, threshold=0.6)
    cl = D.dedup_clusters(pairs)
    sizes = cl.groupBy("canon_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    # sizes is an aggregate of the (tiny) component table — a handful of
    # bytes per cluster — but dedup_clusters' local branch returns a
    # createDataFrame with NO size statistics, so Catalyst planned this as
    # a SortMergeJoin (2 exchanges + 2 sorts of scheduling for a join whose
    # both sides fit in one hand). Pin the broadcast.
    return cl.join(F.broadcast(sizes), "canon_id").select(
        F.col("id").alias("doc_id"), "canon_id", "cluster_size"
    )


def q_props_dynamic(spark, sf):
    """Schemaless payload path (SURVEY §1.2: undeclared events carry a
    JSON `props` payload — Value::Map, value.rs:31-42): parse the JSON
    column, extract a dynamic field, filter + aggregate on it. Exercises
    from_json → Catalyst JsonToStructs with field pruning."""
    # project to the two needed columns, then spread: the from_json parse is
    # the query's entire CPU cost, fanned out by the one size rule
    # (engine.fanout_partitions). An exchange ships only (event_type, props).
    ev = engine.spread(Stream.events(spark, sf).df.select("event_type", "props"))
    k = F.from_json(F.col("props"), "k long").getField("k")
    # conditional aggregation instead of filter-then-aggregate: Catalyst
    # pushes a post-projection filter back below the Project and
    # re-substitutes the from_json expression into it, parsing every row's
    # JSON TWICE (measured at sf1: 3.68 s → 2.57 s, with a single parse
    # floor of 2.11 s — VERDICT r11 task 7). The agg references the
    # projected k, so the parse runs once per row; `HAVING n > 0` keeps
    # the group membership identical to the filtered shape.
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("k") >= 50, 1)).alias("n"),
            F.sum(F.when(F.col("k") >= 50, F.col("k"))).alias("sum_k"),
            F.max(F.when(F.col("k") >= 50, F.col("k"))).alias("max_k"),
        )
        .filter(F.col("n") > 0)
    )


_SCORE_SEED = 7


def _score_weights():
    """Seeded 2→4→1 MLP stored at f32 (the .onnx wire precision), returned
    as the f64 values both engines compute with."""
    import numpy as np

    rng = np.random.RandomState(_SCORE_SEED)
    w1 = rng.normal(scale=0.5, size=(2, 4)).astype(np.float32)
    b1 = rng.normal(scale=0.1, size=(4,)).astype(np.float32)
    w2 = rng.normal(scale=0.5, size=(4, 1)).astype(np.float32)
    b2 = rng.normal(scale=0.1, size=(1,)).astype(np.float32)
    return (w1.astype(np.float64), b1.astype(np.float64),
            w2.astype(np.float64), b2.astype(np.float64))


def q_score_mlp(spark, sf):
    """`.score` through a REAL .onnx artifact (mini-runtime or onnxruntime):
    a seeded 2→4→1 Relu/Sigmoid MLP over (value, value mod 7). The model is
    small enough that the oracle expresses the identical arithmetic as SQL
    with the f32-rounded weights inlined as literals — ONNX inference,
    hash-checked (scores rounded to 6 decimals on both sides: the only
    engine-order-sensitive reduction is the 4-term output dot)."""
    import tempfile

    from varpulis_spark.operators.onnx_mini import make_mlp_onnx
    from varpulis_spark.operators.score import score as score_op

    w1, b1, w2, b2 = _score_weights()
    path = os.path.join(tempfile.gettempdir(), f"varpulis_score_{_SCORE_SEED}.onnx")
    if not os.path.exists(path):
        with open(path, "wb") as f:
            f.write(make_mlp_onnx(w1, b1, w2, b2))
    # spread after the narrow projection: the ONNX batch inference is the
    # per-row cost, fanned out by the one size rule (engine.fanout_partitions)
    ev = engine.spread(
        load_table(spark, sf, "events").select(
            "event_id",
            F.col("value").alias("f1"),
            F.pmod(F.col("value"), F.lit(7.0)).alias("f2"),
        )
    )
    out = score_op(ev, path, inputs=["f1", "f2"], output="risk")
    return out.select("event_id", F.round("risk", 6).alias("risk"))


_SEQ_W = (0.25, -0.5, 1.5, 0.125)  # exactly f32/f64-representable


def q_score_sequence(spark, sf):
    """Sequence scoring (`score_sequence`, operators/score.py): per user,
    the LAST 8 events (ts, event_id ordered) form one (1, 8, 4) tensor
    scored by a real .onnx sequence model — here mean-pool + linear head,
    chosen because avg(features)·w is SQL-expressible, so the whole
    per-key windowing + Arrow + ONNX path hash-checks against an oracle.
    (The same operator runs the multi-head-attention artifact in
    tests/test_onnx_mini.py — that scorer has no SQL form.)"""
    import tempfile

    import numpy as np

    from varpulis_spark.operators.onnx_mini import make_seqpool_linear_onnx
    from varpulis_spark.operators.score import score_sequence

    w = np.array(_SEQ_W, dtype=np.float32).reshape(4, 1)
    path = os.path.join(tempfile.gettempdir(), "varpulis_seqpool_r6.onnx")
    if not os.path.exists(path):
        with open(path, "wb") as f:
            f.write(make_seqpool_linear_onnx(w))
    # integer-valued features + dyadic weights → the whole mean-pool +
    # dot product is EXACT float64 arithmetic (sums < 2^53, /8 and ·w
    # exact), so both engines produce bit-identical scores with NO
    # rounding — decimal rounding would sit on structural 1/3200 ties
    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        F.floor("value").cast("double").alias("f1"),
        F.pmod(F.col("event_id"), F.lit(7)).cast("double").alias("f2"),
        F.pmod(F.col("event_id"), F.lit(5)).cast("double").alias("f3"),
        F.lit(1.0).alias("f4"),
    )
    out = score_sequence(
        ev, path, inputs=["f1", "f2", "f3", "f4"], keys=["user_id"],
        ts_col="ts", order_col="event_id", last_n=8,
        runtime="mini",  # exact f64 — oracle hash must not depend on
        # whether onnxruntime (f32 kernels) is installed (ADVICE r6)
    )
    return out.select("user_id", "n_events", "seq_score")


def _score_oracle_sql() -> str:
    w1, b1, w2, b2 = _score_weights()
    # plain-float reprs: numpy 2.x would print np.float64(...) otherwise
    hidden = [
        f"greatest({float(w1[0][j])!r} * f1 + {float(w1[1][j])!r} * f2 "
        f"+ {float(b1[j])!r}, 0.0)"
        for j in range(4)
    ]
    dot = " + ".join(f"{float(w2[j][0])!r} * h{j}" for j in range(4))
    hdefs = ", ".join(f"{h} AS h{j}" for j, h in enumerate(hidden))
    return f"""
        WITH feats AS (
          SELECT event_id, value AS f1, fmod(value, 7.0) AS f2 FROM events
        ), hid AS (
          SELECT event_id, {hdefs} FROM feats
        )
        SELECT event_id,
               round(1.0 / (1.0 + exp(-({dot} + {float(b2[0])!r}))), 6) AS risk
        FROM hid
    """


def q_forecast(spark, sf):
    """`.forecast` (PST + Hawkes + conformal) over the signup→purchase→error
    pattern per user. Hash-checked since r9 against a full DuckDB port of
    the PST + Hawkes arithmetic (`_forecast_pst_oracle_sql`);
    calibration/monotonicity are pinned in tests/test_extensions.py.
    Deterministic given the data (no RNG)."""
    from varpulis_spark.operators.forecast import forecast as forecast_op

    s = (
        Stream.events(spark, sf)
        .partition_by("user_id")
    )
    out = forecast_op(
        s, ["signup", "purchase", "error"], warmup=10, confidence=0.0,
        first_cols=[],  # projection references no first-alias fields —
        # prune the __first_* payload inside the op (can't cross mapInPandas)
    )
    return out.select(
        "user_id", "event_id", "next_step", "active_runs",
        F.round("completion_prob", 6).alias("completion_prob"),
    )


def q_forecast_runs(spark, sf):
    """The deterministic NFA-bookkeeping core of `.forecast` (VERDICT r6
    task 4): `next_step` and `active_runs` are pure functions of the event
    relation (runs start at `signup`, advance on the first later
    `purchase`, die on the first `error` after that purchase; rows fire
    from the warmup-th event while runs are active) — SQL-expressible, so
    this slice of forecast_pst is hash-checked; only `completion_prob`
    (PST/Hawkes weights) stays rows-only in q_forecast. The 64-run cap
    (forecast.py:50) cannot trigger at driver scale: max signups/user is
    ~24 and completions prune continuously."""
    from varpulis_spark.operators.forecast import forecast as forecast_op

    s = Stream.events(spark, sf).partition_by("user_id")
    out = forecast_op(
        s, ["signup", "purchase", "error"], warmup=10, confidence=0.0,
        first_cols=[],
    )
    return out.select("user_id", "event_id", "next_step", "active_runs")


FORECAST_RUNS_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      FROM events
    ),
    -- one run per signup: advances on the first later purchase, removed AT
    -- the first error after that purchase (completion precedes emission)
    runs AS (
      SELECT s.user_id, s.pos AS p0,
             (SELECT min(p.pos) FROM ev p
               WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
                 AND p.pos > s.pos) AS p_pur
      FROM ev s WHERE s.event_type = 'signup'
    ),
    runs2 AS (
      SELECT r.user_id, r.p0, r.p_pur,
             (SELECT min(e.pos) FROM ev e
               WHERE e.user_id = r.user_id AND e.event_type = 'error'
                 AND e.pos > r.p_pur) AS p_err
      FROM runs r
    )
    SELECT e.user_id, e.event_id,
           CAST(max(CASE WHEN r.p_pur IS NOT NULL AND e.pos >= r.p_pur
                         THEN 2 ELSE 1 END) AS INT) AS next_step,
           CAST(count(*) AS INT) AS active_runs
    FROM ev e
    JOIN runs2 r
      ON r.user_id = e.user_id
     AND e.pos >= r.p0
     AND (r.p_err IS NULL OR e.pos < r.p_err)
    WHERE e.pos >= 10
    GROUP BY e.user_id, e.event_id
"""


def _forecast_pst_oracle_sql() -> str:
    """Full DuckDB port of the `.forecast` completion probability
    (forecast.py OnlinePST + HawkesIntensity + _completion_prob), the same
    way r8 ported the OPH minhash kernel — so `forecast_pst` is
    hash-checked end to end, not rows-only.

    Faithful pieces:
    - run/NFA bookkeeping: FORECAST_RUNS_ORACLE verbatim (hash-green).
    - PST (variable-order Markov, max_depth=5, +1 smoothing): training
      rows are (context-before-event, symbol) for every depth 0..5;
      lookup at event pos uses the deepest context ENDING AT pos (the
      engine updates before it forecasts, so counts include pos itself)
      with any data; alphabet V = cumulative distinct event types.
    - Hawkes (per user x pattern-type tracker): the exact per-event fold
      (EMA dt/dt^2, conditional mu/beta re-estimation at n>=10,
      intensity recursion with max clamp) as a recursive CTE over each
      (user, type) chain; boost = clamp(cur/mu, 1, 5) from the tracker
      state at the last type event <= pos (ASOF join).
    - completion: for next_step=2, prob = min(1, p_err'); for
      next_step=1, prob = 0 when p_err' <= 1e-10 (the fixed-point's
      early-stop) else min(1, p_pur' * p_err'), p' = min(1, p * boost) —
      the scalar form of markov_chain.rs:351-471 for a linear chain.

    Arithmetic is written in the engine's exact evaluation order; exp and
    sqrt hit the same libm on this box, so round(x, 6) hashes match."""
    return """
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) * 1000 AS ts_ns,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      FROM events
    ),
    runs AS (
      SELECT s.user_id, s.pos AS p0,
             (SELECT min(p.pos) FROM ev p
               WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
                 AND p.pos > s.pos) AS p_pur
      FROM ev s WHERE s.event_type = 'signup'
    ),
    runs2 AS (
      SELECT r.user_id, r.p0, r.p_pur,
             (SELECT min(e.pos) FROM ev e
               WHERE e.user_id = r.user_id AND e.event_type = 'error'
                 AND e.pos > r.p_pur) AS p_err
      FROM runs r
    ),
    fired AS (
      SELECT e.user_id, e.event_id, e.pos, e.ts_ns,
             CAST(max(CASE WHEN r.p_pur IS NOT NULL AND e.pos >= r.p_pur
                           THEN 2 ELSE 1 END) AS INT) AS next_step,
             CAST(count(*) AS INT) AS active_runs
      FROM ev e
      JOIN runs2 r
        ON r.user_id = e.user_id
       AND e.pos >= r.p0
       AND (r.p_err IS NULL OR e.pos < r.p_err)
      WHERE e.pos >= 10
      GROUP BY e.user_id, e.event_id, e.pos, e.ts_ns
    ),
    -- contexts ENDING at pos, lengths 1..5 ('|'-separated; types have no '|')
    ctx AS (
      SELECT user_id, pos, event_type,
             event_type AS c1,
             CASE WHEN l1 IS NOT NULL
                  THEN l1 || '|' || event_type END AS c2,
             CASE WHEN l2 IS NOT NULL
                  THEN l2 || '|' || l1 || '|' || event_type END AS c3,
             CASE WHEN l3 IS NOT NULL
                  THEN l3 || '|' || l2 || '|' || l1 || '|' || event_type END AS c4,
             CASE WHEN l4 IS NOT NULL
                  THEN l4 || '|' || l3 || '|' || l2 || '|' || l1 || '|' || event_type END AS c5
      FROM (
        SELECT user_id, pos, event_type,
               lag(event_type, 1) OVER w AS l1,
               lag(event_type, 2) OVER w AS l2,
               lag(event_type, 3) OVER w AS l3,
               lag(event_type, 4) OVER w AS l4
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY pos)
      )
    ),
    -- PST training rows: (context before event, symbol) per depth 0..5
    prevctx AS (
      SELECT user_id, pos, event_type AS symbol,
             lag(c1) OVER w AS p1, lag(c2) OVER w AS p2,
             lag(c3) OVER w AS p3, lag(c4) OVER w AS p4,
             lag(c5) OVER w AS p5
      FROM ctx
      WINDOW w AS (PARTITION BY user_id ORDER BY pos)
    ),
    train AS (
      SELECT user_id, pos, symbol, 0 AS d, '' AS tctx FROM prevctx
      UNION ALL
      SELECT user_id, pos, symbol, 1, p1 FROM prevctx WHERE p1 IS NOT NULL
      UNION ALL
      SELECT user_id, pos, symbol, 2, p2 FROM prevctx WHERE p2 IS NOT NULL
      UNION ALL
      SELECT user_id, pos, symbol, 3, p3 FROM prevctx WHERE p3 IS NOT NULL
      UNION ALL
      SELECT user_id, pos, symbol, 4, p4 FROM prevctx WHERE p4 IS NOT NULL
      UNION ALL
      SELECT user_id, pos, symbol, 5, p5 FROM prevctx WHERE p5 IS NOT NULL
    ),
    -- lookup: counts at the fired pos for every candidate depth
    lk AS (
      SELECT f.user_id, f.pos, dd.d,
             CASE dd.d WHEN 0 THEN '' WHEN 1 THEN c.c1 WHEN 2 THEN c.c2
                       WHEN 3 THEN c.c3 WHEN 4 THEN c.c4 ELSE c.c5 END AS ctx
      FROM fired f
      JOIN ctx c ON c.user_id = f.user_id AND c.pos = f.pos
      CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5]) AS d) dd
    ),
    lkc AS (
      SELECT l.user_id, l.pos, l.d,
             count(t.pos) AS tot,
             count(t.pos) FILTER (WHERE t.symbol = 'purchase') AS n_pur,
             count(t.pos) FILTER (WHERE t.symbol = 'error') AS n_err
      FROM lk l
      LEFT JOIN train t
        ON t.user_id = l.user_id AND t.d = l.d AND t.tctx = l.ctx
       AND t.pos <= l.pos
      WHERE l.ctx IS NOT NULL
      GROUP BY l.user_id, l.pos, l.d
    ),
    -- back-off: deepest context with data wins (prob_sufs)
    psel AS (
      SELECT k.user_id, k.pos, k.tot, k.n_pur, k.n_err
      FROM lkc k
      JOIN (SELECT user_id, pos, max(d) FILTER (WHERE tot > 0) AS bd
            FROM lkc GROUP BY user_id, pos) b
        ON b.user_id = k.user_id AND b.pos = k.pos AND k.d = b.bd
    ),
    -- alphabet size V at pos: cumulative distinct event types
    vsz AS (
      SELECT user_id, pos,
             CAST(SUM(CASE WHEN rn1 = 1 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY pos) AS BIGINT) AS v
      FROM (SELECT user_id, pos,
                   ROW_NUMBER() OVER (
                     PARTITION BY user_id, event_type ORDER BY pos) AS rn1
            FROM ev)
    ),
    -- Hawkes: per (user, pattern type) event chain, exact engine fold
    typed AS (
      SELECT user_id, event_type AS t, pos, ts_ns,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY pos) AS k
      FROM ev WHERE event_type IN ('signup', 'purchase', 'error')
    ),
    hk AS (
      SELECT user_id, t, k, pos, ts_ns,
             1e-9 AS mu, 0.5e-9 AS alpha, 1e-9 AS beta,
             1e-9 + 0.5e-9 AS intensity,
             ts_ns AS last_ns, 1 AS n,
             CAST(0.0 AS DOUBLE) AS ema_d, CAST(0.0 AS DOUBLE) AS ema_d2
      FROM typed WHERE k = 1
      UNION ALL
      SELECT user_id, t, k, pos, ts_ns,
             CASE WHEN cond THEN greatest(1e-15, 1.0 / ema_d1) ELSE mu END,
             CASE WHEN cond THEN greatest(1e-15, 1.0 / ema_d1) * 0.5
                  ELSE alpha END,
             CASE WHEN cond AND (ema_d21 - ema_d1 * ema_d1) > 0
                  THEN greatest(1e-15, 1.0 / sqrt(ema_d21 - ema_d1 * ema_d1))
                  ELSE beta END,
             CASE WHEN cond
                  THEN greatest(int_pre, greatest(1e-15, 1.0 / ema_d1))
                  ELSE int_pre END,
             ts_ns, n + 1, ema_d1, ema_d21
      FROM (
        SELECT *, (n + 1 >= 10 AND ema_d1 > 0) AS cond,
               mu + (intensity - mu + alpha) * exp(-beta * dt) AS int_pre
        FROM (
          SELECT e.user_id, e.t, e.k, e.pos, e.ts_ns,
                 h.mu, h.alpha, h.beta, h.intensity, h.n,
                 greatest(0.0, CAST(e.ts_ns - h.last_ns AS DOUBLE)) AS dt,
                 CASE WHEN h.n = 1
                      THEN greatest(0.0, CAST(e.ts_ns - h.last_ns AS DOUBLE))
                      ELSE 0.05 * greatest(0.0, CAST(e.ts_ns - h.last_ns AS DOUBLE))
                           + (1 - 0.05) * h.ema_d END AS ema_d1,
                 CASE WHEN h.n = 1
                      THEN greatest(0.0, CAST(e.ts_ns - h.last_ns AS DOUBLE))
                           * greatest(0.0, CAST(e.ts_ns - h.last_ns AS DOUBLE))
                      ELSE 0.05 * greatest(0.0, CAST(e.ts_ns - h.last_ns AS DOUBLE))
                             * greatest(0.0, CAST(e.ts_ns - h.last_ns AS DOUBLE))
                           + (1 - 0.05) * h.ema_d2 END AS ema_d21
          FROM hk h
          JOIN typed e ON e.user_id = h.user_id AND e.t = h.t AND e.k = h.k + 1
        )
      )
    ),
    -- boost at the fired event = tracker state at last type event <= pos
    fx AS (
      SELECT f.user_id, f.pos, f.ts_ns, tt.t
      FROM fired f
      CROSS JOIN (SELECT unnest(['purchase', 'error']) AS t) tt
    ),
    bst AS (
      SELECT fx.user_id, fx.pos, fx.t,
             CASE WHEN h.n IS NULL THEN 1.0
                  ELSE least(5.0, greatest(1.0,
                    (h.mu + (h.intensity - h.mu)
                       * exp(-h.beta
                             * greatest(0.0,
                                 CAST(fx.ts_ns - h.last_ns AS DOUBLE))))
                    / h.mu))
             END AS boost
      FROM fx
      ASOF LEFT JOIN hk h
        ON h.user_id = fx.user_id AND h.t = fx.t AND h.pos <= fx.pos
    ),
    probs AS (
      SELECT f.user_id, f.event_id, f.next_step, f.active_runs,
             least(1.0, ((p.n_pur + 1) * 1.0 / (p.tot + v.v)) * bp.boost) AS pp,
             least(1.0, ((p.n_err + 1) * 1.0 / (p.tot + v.v)) * be.boost) AS pe
      FROM fired f
      JOIN psel p ON p.user_id = f.user_id AND p.pos = f.pos
      JOIN vsz v ON v.user_id = f.user_id AND v.pos = f.pos
      JOIN bst bp ON bp.user_id = f.user_id AND bp.pos = f.pos
                 AND bp.t = 'purchase'
      JOIN bst be ON be.user_id = f.user_id AND be.pos = f.pos
                 AND be.t = 'error'
    )
    SELECT user_id, event_id, next_step, active_runs,
           round(CASE WHEN next_step = 2 THEN least(1.0, pe)
                      WHEN pe <= 1e-10 THEN 0.0
                      ELSE least(1.0, pp * pe) END, 6) AS completion_prob
    FROM probs
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "high_value_filter": q_high_value_filter,
        "pricing_summary": q_pricing_summary,
        "tumbling_1h": q_tumbling_1h,
        "sliding_2h1h": q_sliding_2h1h,
        "session_30m": q_session_30m,
        "count_window_20": q_count_window_20,
        "sliding_count_window": q_sliding_count_window,
        "distinct_earliest": q_distinct_earliest,
        "merge_union": q_merge_union,
        "windowed_join_10m": q_windowed_join_10m,
        "windowed_join_3way": q_windowed_join_3way,
        "enrich_orders": q_enrich_orders,
        "stats_by_type": q_stats_by_type,
        "ema_macd": q_ema_macd,
        "having_active_users": q_having_active_users,
        "top_orders": q_top_orders,
        "seq_signup_purchase": q_seq_signup_purchase,
        "seq_no_error": q_seq_no_error,
        "kleene_purchases": q_kleene_purchases,
        "kleene_maximal": q_kleene_maximal,
        "kleene_deferred": q_kleene_deferred,
        "and_pattern": q_and_pattern,
        "greta_trend_count": q_greta_trend_count,
        "greta_windowed": q_greta_windowed,
        "greta_rising": q_greta_rising,
        "trend_multi": q_trend_multi,
        "lag_delta": q_lag_delta,
        "text_stats": q_text_stats,
        "lang_distribution": q_lang_distribution,
        "exact_dedup_docs": q_exact_dedup_docs,
        "multimodal_meta": q_multimodal_meta,
        "knn_cosine": q_knn_cosine,
        "embedding_near_dup": q_embedding_near_dup,
        "minhash_near_dup": q_minhash_near_dup,
        "simhash_near_dup": q_simhash_near_dup,
        "minshingle_near_dup": q_minshingle_near_dup,
        "near_dup_clusters": q_near_dup_clusters,
        "ann_ivf": q_ann_ivf,
        "ivf_near_dup": q_ivf_near_dup,
        "ivf_near_dup_t85": q_ivf_near_dup_t85,
        "embedding_near_dup_capped": q_embedding_near_dup_capped,
        "score_mlp": q_score_mlp,
        "score_sequence": q_score_sequence,
        "forecast_pst": q_forecast,
        "forecast_runs": q_forecast_runs,
        "props_dynamic": q_props_dynamic,
        "audio_meta": q_audio_meta,
        "collatz_steps": q_collatz_steps,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_STOP_EN = ", ".join(f"'{w}'" for w in T.STOPWORDS_EN)
_STOP_DE = ", ".join(f"'{w}'" for w in T.STOPWORDS_DE)
_STOP_ES = ", ".join(f"'{w}'" for w in T.STOPWORDS_ES)
_STOP_FR = ", ".join(f"'{w}'" for w in T.STOPWORDS_FR)

_TEXT_SCORES = f"""
  SELECT doc_id, text,
    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ({_STOP_EN}))) s_en,
    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ({_STOP_DE}))) s_de,
    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ({_STOP_ES}))) s_es,
    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ({_STOP_FR}))) s_fr
  FROM documents
"""

_LANG_CASE = """
  CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
       ELSE 'und' END
"""


def _fnv_powers(k: int) -> list[int]:
    """FNV-prime polynomial coefficients mod 2^64 (dedup._powers parity)."""
    fnv, t64 = 1099511628211, 1 << 64
    p = [1] * k
    for i in range(1, k):
        p[i] = (p[i - 1] * fnv) % t64
    return p


def _shingle_hash_cte(k: int) -> str:
    """Shared CTE prefix: normalized text → uint64 FNV rolling k-shingle
    window hashes, bit-identical to dedup._shingle_hashes_concat (docs
    shorter than k hash their single zero-padded prefix window)."""
    t64 = 1 << 64
    powers = _fnv_powers(k)
    poly = " + ".join(
        f"CAST(CASE WHEN i+{j} <= length(t) THEN ascii(substr(t, i+{j}, 1)) "
        f"ELSE 0 END AS HUGEINT) * {powers[j]}::HUGEINT"
        for j in range(k)
    )
    return f"""
norm AS (
  SELECT doc_id AS id,
         regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g') AS t
  FROM documents
),
wins AS (
  SELECT id, CAST(({poly}) % {t64}::HUGEINT AS UBIGINT) AS h
  FROM norm,
       unnest(range(1, greatest(length(t) - {k - 1}, least(length(t), 1)) + 1)) AS w(i)
  WHERE length(t) > 0
)"""


def _minhash_oracle_sql(
    num_perm: int = 128, bands: int = 32, k: int = 7, seed: int = 42,
    threshold: float = 0.4, max_bucket: int = 64,
) -> str:
    """DuckDB port of the full OPH MinHash-LSH pipeline
    (dedup._oph_signatures + minhash_near_dup_pairs): FNV rolling shingle
    hash → murmur finalizer (exact 64-bit wraparound via 32-bit-split
    mulmod in HUGEINT) → per-(doc,bin) 40-bit min → rotation
    densification → banding by the band TUPLE (Spark buckets by xxhash64
    of the tuple — equal modulo 2^-64 collisions) → per-bucket cap of the
    {max_bucket} lowest ids (the salted two-level Spark cap is
    output-equivalent to this global cap by construction) → signature
    agreement ≥ threshold. Verified bit-identical to the numpy kernel in
    tests/test_dedup.py."""
    t64, t32 = 1 << 64, 1 << 32
    bin_bits = num_perm.bit_length() - 1
    rpb = num_perm // bands
    m1 = ((0xFF51AFD7ED558CCD ^ (2 * seed + 1)) | 1) % t64
    m2 = ((0xC4CEB9FE1A85EC53 ^ (2 * seed + 1)) | 1) % t64
    sent = (1 << 61) - 1
    val_mask = (1 << 40) - 1

    def mulmod(a: str, m: int) -> str:
        # (a * m) mod 2^64 without INT128 overflow: split a at 32 bits
        return (
            f"CAST((( (CAST({a} AS HUGEINT) % {t32}) * {m}::HUGEINT"
            f" + ((CAST({a} AS HUGEINT) // {t32}) * {m}::HUGEINT % {t32})"
            f" * {t32}::HUGEINT ) % {t64}::HUGEINT) AS UBIGINT)"
        )

    agree = (
        f"len(list_filter(range({num_perm}), "
        f"i -> a.sig[CAST(i+1 AS INT)] = b.sig[CAST(i+1 AS INT)]))"
    )
    return f"""
WITH {_shingle_hash_cte(k)},
mixed AS (
  SELECT id,
    xor(h, h >> 33) AS a1,
    {mulmod('a1', m1)} AS a2,
    xor(a2, a2 >> 29) AS a3,
    {mulmod('a3', m2)} AS a4,
    xor(a4, a4 >> 32) AS hh
  FROM wins
),
slotmin AS (
  SELECT id, CAST(hh >> {64 - bin_bits} AS INT) AS bin,
         min(CAST(hh & {val_mask} AS BIGINT)) AS v
  FROM mixed GROUP BY 1, 2
),
origs AS (
  SELECT n.id,
         list_transform(range({num_perm}),
           b -> coalesce(m[CAST(b AS INT)][1], {sent}::BIGINT)) AS orig
  FROM norm n LEFT JOIN (
    SELECT id, map(list(bin), list(v)) AS m FROM slotmin GROUP BY id
  ) s ON n.id = s.id
),
dens AS (
  -- rotation densification: an empty slot borrows the nearest ORIGINAL
  -- non-empty slot to the right, cyclically (Shrivastava & Li, ICML'14)
  SELECT id,
    list_transform(range({num_perm}), j ->
      CASE WHEN orig[CAST(j+1 AS INT)] != {sent} THEN orig[CAST(j+1 AS INT)]
           ELSE coalesce(list_filter(list_slice(orig || orig, j+2, j+{num_perm}),
                                     x -> x != {sent})[1], {sent}::BIGINT)
      END) AS sig
  FROM origs
),
banded AS (
  SELECT id, j, list_slice(sig, j*{rpb}+1, j*{rpb}+{rpb}) AS bk
  FROM dens, unnest(range({bands})) AS g(j)
),
buckets AS (
  SELECT list_sort(list(id))[1:{max_bucket}] AS ids
  FROM banded GROUP BY j, bk
  HAVING count(*) >= 2
),
cand AS (
  SELECT DISTINCT ua.id_a, ub.id_b
  FROM buckets, unnest(ids) AS ua(id_a), unnest(ids) AS ub(id_b)
  WHERE ua.id_a < ub.id_b
)
SELECT c.id_a, c.id_b,
       round(CAST({agree} AS DOUBLE) / {num_perm}, 6) AS est_jaccard
FROM cand c JOIN dens a ON a.id = c.id_a JOIN dens b ON b.id = c.id_b
WHERE CAST({agree} AS DOUBLE) / {num_perm} >= {threshold}
"""


def _simhash_oracle_sql(
    k: int = 7, max_hamming: int = 3, max_bucket: int = 64,
) -> str:
    """DuckDB port of the SimHash near-dup pipeline (dedup._simhash_batch +
    simhash_near_dup_pairs): per-doc DISTINCT shingle hashes vote per bit
    (bit q set iff 2·Σ bit_q(h) > n_shingles — the numpy kernel's
    unpack/pack byte permutation cancels, so this is position-exact),
    4×16-bit pigeonhole bands grouped by the band value (Spark buckets by
    xxhash64 — equal modulo collisions), per-bucket cap of the lowest
    {max_bucket} ids, Hamming ≤ {max_hamming} verify."""
    t64 = 1 << 64
    return f"""
WITH {_shingle_hash_cte(k)},
dwins AS (SELECT DISTINCT id, h FROM wins),
bits AS (
  SELECT id, q,
         CASE WHEN 2 * sum(CAST((h >> CAST(q AS INT)) & 1 AS BIGINT)) > count(*)
              THEN 1 ELSE 0 END AS bit
  FROM dwins, unnest(range(64)) AS t(q)
  GROUP BY id, q
),
usig AS (
  SELECT id, sum(CAST(bit AS HUGEINT) * (1::HUGEINT << CAST(q AS INT))) AS us
  FROM bits GROUP BY id
),
sigs AS (
  -- reinterpret the uint64 bit pattern as the signed int64 Spark carries
  SELECT n.id,
         CAST(CASE WHEN coalesce(us, 0) >= {1 << 63}::HUGEINT
                   THEN coalesce(us, 0) - {t64}::HUGEINT
                   ELSE coalesce(us, 0) END AS BIGINT) AS sh
  FROM norm n LEFT JOIN usig u ON n.id = u.id
),
banded AS (
  -- arithmetic >> then & 65535 equals the logical band extraction
  SELECT id, j, (sh >> CAST(j*16 AS INT)) & 65535 AS bk
  FROM sigs, unnest(range(4)) AS g(j)
),
buckets AS (
  SELECT list_sort(list(id))[1:{max_bucket}] AS ids
  FROM banded GROUP BY j, bk
  HAVING count(*) >= 2
),
cand AS (
  SELECT DISTINCT ua.id_a, ub.id_b
  FROM buckets, unnest(ids) AS ua(id_a), unnest(ids) AS ub(id_b)
  WHERE ua.id_a < ub.id_b
)
SELECT c.id_a, c.id_b, CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM cand c JOIN sigs a ON a.id = c.id_a JOIN sigs b ON b.id = c.id_b
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


_MINSHINGLE_D_CTE = """d AS (
              SELECT doc_id AS id,
                     -- 60-bit md5-prefix hashes (engine-identical), distinct
                     list_distinct(list_transform(
                       list_distinct([substr(lower(text), i, 8)
                         for i in generate_series(1, greatest(length(lower(text)) - 7, 1))]),
                       s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
              FROM documents
            )"""


def _minshingle_block_sql(bands: int = 8, max_block: int = 64) -> str:
    """Banded one-permutation min-shingle blocking (operators/dedup.py
    ngram_minshingle_pairs) in DuckDB SQL: shingle hashes slotted by
    h % (2·bands), band key j = (min of slot 2j, min of slot 2j+1) with a
    -1 sentinel for empty slots, all-sentinel keys dropped, OVER-CAP blocks
    subdivided by the band's secondary minimum m2 (min over
    h % (slots·bands) ∈ [j·slots, (j+1)·slots) — the second base-`slots`
    digit; -2 constant for under-cap blocks so their grouping is
    unchanged), candidate pairs deduped across bands. r12: NO residual
    truncation — sub-blocks still over max_block verify exhaustively
    (a row_number cap cannot coexist with recall 1.0 on exact dups, which
    share every minimum; dedup.py _minshingle_blocks r12 note). Shared by
    the minshingle_near_dup and near_dup_clusters oracles so both block
    bit-for-bit like the engine. Expects a CTE `d(id, sh)` in scope;
    leaves `cand(id_a, id_b)` in scope."""
    slots = 2 * bands
    sb = slots * bands
    slot_cols = ",\n                     ".join(
        f"coalesce(list_min(list_filter(sh, h -> h % {slots} = {t})), -1) AS s{t}"
        for t in range(slots)
    )
    m2_cols = ",\n                     ".join(
        f"coalesce(list_min(list_filter(sh, h -> h % {sb} >= {j * slots}"
        f" AND h % {sb} < {(j + 1) * slots})), -1) AS t{j}"
        for j in range(bands)
    )
    band_arms = "\n              UNION ALL ".join(
        f"SELECT id, {j} AS band, s{2 * j} AS m0, s{2 * j + 1} AS m1, t{j} AS m2raw "
        f"FROM slots WHERE NOT (s{2 * j} = -1 AND s{2 * j + 1} = -1)"
        for j in range(bands)
    )
    return f"""slots AS (
              SELECT id,
                     {slot_cols},
                     {m2_cols}
              FROM d
            ), blocks AS (
              {band_arms}
            ), split AS (
              -- r11: over-cap blocks are subdivided by the band's
              -- secondary minimum; under-cap blocks keep -2. r12: no
              -- residual truncation — the sub-block IS the verify unit
              SELECT id, band, m0, m1,
                     CASE WHEN count(*) OVER (PARTITION BY band, m0, m1)
                               > {max_block}
                          THEN m2raw ELSE -2 END AS m2
              FROM blocks
            ), cand AS (
              SELECT DISTINCT a.id AS id_a, c.id AS id_b
              FROM split a JOIN split c
                ON a.band = c.band AND a.m0 = c.m0 AND a.m1 = c.m1
               AND a.m2 = c.m2 AND a.id < c.id
            )"""


def oracle_sql() -> dict[str, str]:
    return {
        "high_value_filter": """
            SELECT event_id, user_id, value, epoch_us(ts) AS ts_us
            FROM events WHERE value > 150
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
              count(*) AS count_order
            FROM lineitem GROUP BY 1, 2
        """,
        "tumbling_1h": """
            SELECT user_id, epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS ws_us,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
                   max(value) AS mx
            FROM events GROUP BY 1, 2
        """,
        "sliding_2h1h": """
            WITH w AS (SELECT DISTINCT time_bucket(INTERVAL '1 hour', ts) b FROM events),
            starts AS (SELECT b s FROM w UNION SELECT b - INTERVAL '1 hour' FROM w)
            SELECT epoch_us(s) AS ws_us, count(*) AS n, max(value) AS mx
            FROM starts JOIN events ON ts >= s AND ts < s + INTERVAL '2 hours'
            GROUP BY 1
        """,
        "session_30m": """
            WITH t AS (
              SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END brk
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, value
                    ROWS UNBOUNDED PRECEDING) sid FROM t)
            SELECT user_id, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM s GROUP BY user_id, sid
        """,
        "count_window_20": """
            WITH t AS (SELECT user_id, value,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
              FROM events)
            SELECT user_id, (rn - 1) // 20 AS win, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM t GROUP BY 1, 2 HAVING count(*) = 20
        """,
        "sliding_count_window": """
            WITH t AS (SELECT user_id, value,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
              FROM events),
            x AS (SELECT user_id, value, rn, unnest(generate_series(
                greatest(CAST(ceil((rn - 50) / 25.0) AS BIGINT), 0),
                (rn - 1) // 25)) win FROM t)
            SELECT user_id, win, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM x GROUP BY 1, 2 HAVING count(*) >= 50
        """,
        "distinct_earliest": """
            SELECT user_id, event_type, event_id FROM (
              SELECT user_id, event_type, event_id,
                row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) rn
              FROM events) WHERE rn = 1
        """,
        "merge_union": """
            SELECT event_id, event_type, value FROM events
            WHERE event_type = 'purchase' AND value > 100
            UNION ALL
            SELECT event_id, event_type, value FROM events WHERE event_type = 'error'
        """,
        "windowed_join_10m": """
            SELECT p.user_id AS user_id, p.event_id AS p_id, e.event_id AS e_id
            FROM events p JOIN events e
              ON p.user_id = e.user_id
             AND p.event_type = 'purchase' AND e.event_type = 'error'
             AND abs(epoch_us(p.ts) - epoch_us(e.ts)) <= 600000000
        """,
        "windowed_join_3way": """
            SELECT a.user_id AS user_id, a.event_id AS a_id,
                   b.event_id AS b_id, c.event_id AS c_id
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 7200000000
            JOIN events c
              ON a.user_id = c.user_id
             AND abs(epoch_us(c.ts) - epoch_us(a.ts)) <= 7200000000
             AND abs(epoch_us(c.ts) - epoch_us(b.ts)) <= 7200000000
            WHERE a.event_type = 'view' AND b.event_type = 'click'
              AND c.event_type = 'view'
        """,
        "enrich_orders": """
            SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        """,
        "stats_by_type": """
            SELECT event_type,
              round(CASE WHEN count(value) >= 2 THEN stddev_samp(value) END, 6) AS sd,
              count(DISTINCT user_id) AS nd,
              first(value ORDER BY ts, event_id) AS first_v,
              last(value ORDER BY ts, event_id) AS last_v,
              median(value) AS med
            FROM events GROUP BY 1
        """,
        "ema_macd": """
            WITH v AS (SELECT user_id, list(value ORDER BY ts, event_id) vs
                       FROM events GROUP BY 1)
            SELECT user_id,
              round(list_reduce(vs, (acc, x) -> x * (2.0/13.0) + acc * (1.0 - 2.0/13.0)), 6) AS e12,
              round(list_reduce(vs, (acc, x) -> x * (2.0/13.0) + acc * (1.0 - 2.0/13.0))
                  - list_reduce(vs, (acc, x) -> x * (2.0/27.0) + acc * (1.0 - 2.0/27.0)), 6) AS macd
            FROM v
        """,
        "having_active_users": """
            SELECT user_id, count(*) AS n FROM events GROUP BY 1 HAVING count(*) > 50
        """,
        "top_orders": """
            SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC LIMIT 10
        """,
        "seq_signup_purchase": """
            SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = 'signup' AND b.event_type = 'purchase'
             AND b.ts > a.ts AND epoch_us(b.ts) <= epoch_us(a.ts) + 86400000000
        """,
        "seq_no_error": """
            SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = 'signup' AND b.event_type = 'purchase'
             AND b.ts > a.ts AND epoch_us(b.ts) <= epoch_us(a.ts) + 86400000000
            WHERE NOT EXISTS (
              -- global negation vetoes in (first, last] ARRIVAL order:
              -- strictly after the signup, at-or-before the purchase
              -- (the completing event itself can veto; sase.rs:2204)
              SELECT 1 FROM events c
              WHERE c.user_id = a.user_id AND c.event_type = 'error'
                AND (c.ts > a.ts OR (c.ts = a.ts AND c.event_id > a.event_id))
                AND (c.ts < b.ts OR (c.ts = b.ts AND c.event_id <= b.event_id)))
        """,
        "kleene_purchases": """
            -- exhaustive Kleene closure checked via the binomial identity:
            -- per (signup, error) anchor with k purchases strictly between,
            -- the NFA must emit exactly C(k, m) matches of subset size m.
            -- within=48h is inclusive of the deadline (µs integer bound).
            WITH pur AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
                 anchors AS (
                   SELECT s.user_id, s.event_id AS a_id, e.event_id AS c_id,
                          (SELECT count(*) FROM pur p
                            WHERE p.user_id = s.user_id
                              AND p.ts > s.ts AND p.ts < e.ts) AS k
                   FROM events s JOIN events e ON e.user_id = s.user_id
                    AND s.event_type = 'signup' AND e.event_type = 'error'
                    AND e.ts > s.ts
                    AND epoch_us(e.ts) <= epoch_us(s.ts) + 172800000000
                 ),
                 expanded AS (
                   SELECT user_id, a_id, c_id, k,
                          UNNEST(range(1, k::INT + 1)) AS m
                   FROM anchors WHERE k >= 1
                 )
            SELECT user_id, a_id, c_id, CAST(m AS INT) AS n_purchases,
                   CAST(factorial(k::INT) / (factorial(m::INT) * factorial((k - m)::INT)) AS BIGINT) AS n_matches
            FROM expanded
        """,
        "kleene_maximal": """
            -- reference RUN semantics, computed deterministically: per
            -- signup, p1 = first purchase after it, e = first error after
            -- p1 (both within the 48h inclusive deadline); the closure is
            -- every purchase strictly between signup and e, capped at the
            -- 20-event accumulation limit.
            WITH pur AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
                 err AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
                 runs AS (
                   SELECT s.user_id, s.event_id AS a_id, s.ts AS s_ts,
                          (SELECT min(p.ts) FROM pur p
                            WHERE p.user_id = s.user_id AND p.ts > s.ts
                              AND epoch_us(p.ts) <= epoch_us(s.ts) + 172800000000) AS p1_ts
                   FROM events s WHERE s.event_type = 'signup'
                 ),
                 closed AS (
                   SELECT r.user_id, r.a_id, r.s_ts,
                          (SELECT min(e.ts) FROM err e
                            WHERE e.user_id = r.user_id AND e.ts > r.p1_ts
                              AND epoch_us(e.ts) <= epoch_us(r.s_ts) + 172800000000) AS e_ts
                   FROM runs r WHERE r.p1_ts IS NOT NULL
                 )
            SELECT c.user_id, c.a_id,
                   (SELECT min(e.event_id) FROM err e
                     WHERE e.user_id = c.user_id AND e.ts = c.e_ts) AS c_id,
                   LEAST((SELECT count(*) FROM pur p
                           WHERE p.user_id = c.user_id
                             AND p.ts > c.s_ts AND p.ts < c.e_ts), 20) AS n_purchases
            FROM closed c WHERE c.e_ts IS NOT NULL
        """,
        "kleene_deferred": """
            -- deferred-predicate enumeration checked via the binomial
            -- identity over the FILTERED candidate set: per closed run,
            -- k' = purchases among the first 20 accumulated whose value is
            -- below the closing error's value; subset size m must appear
            -- exactly C(k', m) times.
            WITH pur AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
                 err AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'error'),
                 runs AS (
                   SELECT s.user_id, s.event_id AS a_id, s.ts AS s_ts,
                          (SELECT min(p.ts) FROM pur p
                            WHERE p.user_id = s.user_id AND p.ts > s.ts
                              AND epoch_us(p.ts) <= epoch_us(s.ts) + 172800000000) AS p1_ts
                   FROM events s WHERE s.event_type = 'signup'
                 ),
                 closed AS (
                   SELECT r.user_id, r.a_id, r.s_ts,
                          (SELECT min(e.ts) FROM err e
                            WHERE e.user_id = r.user_id AND e.ts > r.p1_ts
                              AND epoch_us(e.ts) <= epoch_us(r.s_ts) + 172800000000) AS e_ts
                   FROM runs r WHERE r.p1_ts IS NOT NULL
                 ),
                 runinfo AS (
                   SELECT c.user_id, c.a_id, c.s_ts, c.e_ts,
                          (SELECT min(e.event_id) FROM err e
                            WHERE e.user_id = c.user_id AND e.ts = c.e_ts) AS c_id,
                          (SELECT min(e.value) FROM err e
                            WHERE e.user_id = c.user_id AND e.ts = c.e_ts) AS e_val
                   FROM closed c WHERE c.e_ts IS NOT NULL
                 ),
                 qual AS (
                   SELECT r.user_id, r.a_id, r.c_id,
                          (SELECT count(*) FROM (
                             SELECT p.value,
                                    row_number() OVER (ORDER BY p.ts) AS rn
                             FROM pur p
                             WHERE p.user_id = r.user_id
                               AND p.ts > r.s_ts AND p.ts < r.e_ts) q
                            WHERE q.rn <= 20 AND q.value < r.e_val) AS kq
                   FROM runinfo r
                 )
            SELECT user_id, a_id, c_id, CAST(m AS BIGINT) AS n_purchases,
                   CAST(factorial(kq::INT) / (factorial(m::INT) * factorial((kq - m)::INT)) AS BIGINT) AS n_matches
            FROM (SELECT *, UNNEST(range(1, kq::INT + 1)) AS m
                  FROM qual WHERE kq >= 1)
        """,
        "and_pattern": """
            SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = 'signup' AND b.event_type = 'error'
             AND a.event_id <> b.event_id
             AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 7200000000
        """,
        "greta_trend_count": """
            SELECT user_id,
                   pow(2, count(*)) - 1 AS trend_count,
                   count(*) * pow(2, count(*) - 1) AS event_count
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        """,
        "greta_rising": """
            -- the GRETA DP as a recursive CTE: one iteration appends each
            -- user's next purchase, carrying (values, cnt, val) arrays;
            -- cnt_i = 1 + sum cnt[j] over j<i with v[j] < v[i], etc.
            WITH RECURSIVE ev AS (
              SELECT user_id, value,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events WHERE event_type = 'purchase'
            ),
            dp AS (
              SELECT user_id, 0 AS i,
                     CAST([] AS DOUBLE[]) AS vs,
                     CAST([] AS DOUBLE[]) AS cnts,
                     CAST([] AS DOUBLE[]) AS vals,
                     CAST(0.0 AS DOUBLE) AS tc, CAST(0.0 AS DOUBLE) AS vsum
              FROM (SELECT DISTINCT user_id FROM ev)
              UNION ALL
              SELECT d.user_id, d.i + 1,
                     list_append(d.vs, e.value),
                     list_append(d.cnts,
                       1.0 + coalesce(list_sum(list_transform(list_zip(d.vs, d.cnts),
                         x -> CASE WHEN x[1] < e.value THEN x[2] ELSE 0.0 END)), 0.0)),
                     list_append(d.vals,
                       e.value * (1.0 + coalesce(list_sum(list_transform(list_zip(d.vs, d.cnts),
                         x -> CASE WHEN x[1] < e.value THEN x[2] ELSE 0.0 END)), 0.0))
                       + coalesce(list_sum(list_transform(list_zip(d.vs, d.vals),
                         x -> CASE WHEN x[1] < e.value THEN x[2] ELSE 0.0 END)), 0.0)),
                     d.tc + 1.0 + coalesce(list_sum(list_transform(list_zip(d.vs, d.cnts),
                         x -> CASE WHEN x[1] < e.value THEN x[2] ELSE 0.0 END)), 0.0),
                     d.vsum + e.value * (1.0 + coalesce(list_sum(list_transform(list_zip(d.vs, d.cnts),
                         x -> CASE WHEN x[1] < e.value THEN x[2] ELSE 0.0 END)), 0.0))
                       + coalesce(list_sum(list_transform(list_zip(d.vs, d.vals),
                         x -> CASE WHEN x[1] < e.value THEN x[2] ELSE 0.0 END)), 0.0)
              FROM dp d JOIN ev e ON e.user_id = d.user_id AND e.rn = d.i + 1
            )
            SELECT user_id, tc AS trend_count, round(vsum, 6) AS value_sum
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY i DESC) rk FROM dp)
            WHERE rk = 1
        """,
        "greta_windowed": """
            -- pane composition: 6h epoch-aligned buckets, closed form per
            -- pane (integer µs arithmetic matches Spark's unix_micros)
            SELECT user_id,
                   CAST(floor(epoch_us(ts) / 21600000000) * 21600000000 AS BIGINT) AS w_start_us,
                   pow(2, count(*)) - 1 AS trend_count,
                   count(*) * pow(2, count(*) - 1) AS event_count
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        """,
        "trend_multi": """
            WITH per_type AS (
              SELECT user_id, event_type, count(*) AS n
              FROM events
              WHERE event_type IN ('purchase','view','error','login','signup')
              GROUP BY 1, 2)
            SELECT user_id, event_type || '_count' AS query,
                   pow(2, n) - 1 AS trend_count,
                   n * pow(2, n - 1) AS event_count
            FROM per_type
            UNION ALL
            SELECT user_id, event_type || '_val' AS query,
                   pow(2, n) - 1 AS trend_count,
                   n * pow(2, n - 1) AS event_count
            FROM per_type
        """,
        "lag_delta": """
            SELECT user_id, event_id, value, round(value - pv, 6) AS delta
            FROM (
              SELECT user_id, event_id, value,
                     lag(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS pv
              FROM events)
            WHERE pv IS NOT NULL
        """,
        "text_stats": f"""
            SELECT doc_id,
              len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
              len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])')) AS n_subtokens,
              CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text) AS punct_ratio,
              CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                   t -> t IN ({_STOP_EN}))) AS DOUBLE)
                / len(string_split_regex(trim(lower(text)), '\\s+')) AS stopword_ratio,
              round(
                0.4 * least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 64.0, 1.0)
                + 0.3 * greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text)) * 10.0)
                + 0.3 * least((CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      t -> t IN ({_STOP_EN}))) AS DOUBLE)
                    / len(string_split_regex(trim(lower(text)), '\\s+'))) * 4.0, 1.0), 6) AS quality,
              md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
              ({_LANG_CASE.replace('s_en', 'x_en').replace('s_de', 'x_de').replace('s_es', 'x_es').replace('s_fr', 'x_fr')}) AS lang_pred
            FROM (
              SELECT *,
                len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ({_STOP_EN}))) x_en,
                len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ({_STOP_DE}))) x_de,
                len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ({_STOP_ES}))) x_es,
                len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ({_STOP_FR}))) x_fr
              FROM documents)
        """,
        "lang_distribution": f"""
            SELECT ({_LANG_CASE}) AS lang_pred, count(*) AS n
            FROM ({_TEXT_SCORES}) GROUP BY 1
        """,
        "exact_dedup_docs": """
            -- grouped by md5(text) to mirror the fingerprint-keyed shuffle;
            -- identical result to GROUP BY text (128-bit collision-safe)
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "minhash_near_dup": _minhash_oracle_sql(),
        "simhash_near_dup": _simhash_oracle_sql(),
        "embedding_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        """,
        "multimodal_meta": """
            -- the fake image is a pure function of (doc_id, text):
            -- header dims from doc_id arithmetic; the frame sampler sees
            -- 12 header bytes + the utf-8 payload and keeps every 10th
            -- 64-byte frame -> ceil(max(1, len/64) / 10) rows per doc
            SELECT doc_id,
                   CAST(16 + doc_id % 32 AS INT) AS width,
                   CAST(16 + (doc_id * 7) % 32 AS INT) AS height,
                   CAST(1 + doc_id % 3 AS INT) AS channels,
                   CAST(ceil(greatest(1, (12 + octet_length(encode(text))) // 64) / 10.0) AS BIGINT) AS n_frames
            FROM documents
        """,
        "minshingle_near_dup": f"""
            -- banded one-permutation min-shingle blocking (md5 hex is
            -- identical across engines, so both block bit-for-bit the
            -- same; _minshingle_block_sql mirrors dedup.py's banded keys
            -- + per-band 64-id cap), then exact Jaccard >= 0.6 in
            -- integer arithmetic
            WITH {_MINSHINGLE_D_CTE}, {_minshingle_block_sql()}
            SELECT p.id_a, p.id_b,
                   CAST(len(list_intersect(a.sh, c.sh)) AS BIGINT) AS inter_size,
                   CAST(len(list_distinct(list_concat(a.sh, c.sh))) AS BIGINT) AS union_size
            FROM cand p JOIN d a ON a.id = p.id_a JOIN d c ON c.id = p.id_b
            WHERE 1000000 * len(list_intersect(a.sh, c.sh))
                  >= 600000 * len(list_distinct(list_concat(a.sh, c.sh)))
        """,
        "near_dup_clusters": f"""
            -- connected components over the SAME pair set as
            -- minshingle_near_dup, via recursive reachability: lbl
            -- candidates flow along edges, min per node = the component's
            -- minimum id (exactly the propagation fixpoint)
            WITH RECURSIVE {_MINSHINGLE_D_CTE}, {_minshingle_block_sql()}, pairs AS (
              SELECT p.id_a, p.id_b
              FROM cand p JOIN d a ON a.id = p.id_a JOIN d c ON c.id = p.id_b
              WHERE 1000000 * len(list_intersect(a.sh, c.sh))
                    >= 600000 * len(list_distinct(list_concat(a.sh, c.sh)))
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ), nodes AS (
              SELECT DISTINCT src AS id FROM edges
            ), reach(id, lbl) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
            ), lab AS (
              SELECT id, min(lbl) AS canon_id FROM reach GROUP BY id
            ), sz AS (
              SELECT canon_id, count(*) AS cluster_size FROM lab GROUP BY canon_id
            )
            SELECT lab.id AS doc_id, lab.canon_id, sz.cluster_size
            FROM lab JOIN sz USING (canon_id)
        """,
        "audio_meta": """
            -- fake PCM is a pure function of the row: 4 samples per utf-8
            -- byte; frames of 64 samples every 32 (>=1 frame when shorter)
            SELECT doc_id,
                   CAST(8000 + 1000 * (doc_id % 5) AS INT) AS sample_rate,
                   CAST(greatest((octet_length(encode(text)) * 4 - 64) // 32 + 1, 1) AS BIGINT) AS n_frames
            FROM documents
        """,
        "props_dynamic": """
            SELECT event_type, count(*) AS n,
                   -- DuckDB sum(BIGINT) -> HUGEINT; cast back so the value
                   -- hash canonicalizes the same way as Spark's LONG
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
            FROM events
            WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 50
            GROUP BY 1
        """,
        "collatz_steps": """
            -- bounded recursive CTE: each seed's orbit is a single chain,
            -- so MAX(steps) per seed is the step count at termination
            WITH RECURSIVE c AS (
              SELECT n0, n0 AS n, 0 AS steps
              FROM (SELECT DISTINCT (event_id % 100) + 1 AS n0
                    FROM events WHERE event_type = 'purchase')
              UNION ALL
              SELECT n0, CASE WHEN n % 2 = 0 THEN n // 2 ELSE 3*n + 1 END,
                     steps + 1
              FROM c WHERE n > 1
            )
            SELECT e.event_id AS event_id, e.user_id AS user_id,
                   CAST(m.steps AS BIGINT) AS steps
            FROM events e
            JOIN (SELECT n0, MAX(steps) AS steps FROM c GROUP BY n0) m
              ON (e.event_id % 100) + 1 = m.n0
            WHERE e.event_type = 'purchase'
        """,
        "score_mlp": _score_oracle_sql(),
        "ann_ivf": _ann_ivf_oracle_sql(),
        "ivf_near_dup": _ivf_near_dup_oracle_sql(),
        "ivf_near_dup_t85": _ivf_near_dup_oracle_sql(threshold=0.85),
        "embedding_near_dup_capped": """
            -- deterministic 4,000-row slice by md5(vec_id): engine-
            -- identical ordering (md5 of the decimal string is the same
            -- in Spark and DuckDB), then the exact all-pairs check; at
            -- oracle scales the slice is the full corpus
            WITH s AS (
              SELECT vec_id, embedding FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              LIMIT 4000
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM s a JOIN s b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        """,
        "forecast_runs": FORECAST_RUNS_ORACLE,
        "forecast_pst": _forecast_pst_oracle_sql(),
        "score_sequence": """
            -- mean-pool + linear head over each user's LAST 8 events:
            -- score = avg(f)·w with w = (0.25, -0.5, 1.5, 0.125)
            WITH ranked AS (
              SELECT user_id,
                     CAST(floor(value) AS DOUBLE) AS f1,
                     CAST(event_id % 7 AS DOUBLE) AS f2,
                     CAST(event_id % 5 AS DOUBLE) AS f3,
                     1.0 AS f4,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                     ) AS rn
              FROM events
            ), tail AS (
              SELECT * FROM ranked WHERE rn <= 8
            )
            SELECT user_id,
                   CAST(count(*) AS INT) AS n_events,
                   avg(f1) * 0.25 + avg(f2) * -0.5
                   + avg(f3) * 1.5 + avg(f4) * 0.125 AS seq_score
            FROM tail GROUP BY user_id
        """,
        "knn_cosine": """
            WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id < 8),
            scored AS (
              SELECT qid, vec_id nid,
                list_cosine_similarity(qe, embedding) s
              FROM q, embeddings WHERE vec_id <> qid),
            ranked AS (
              SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) rk
              FROM scored)
            SELECT qid AS query_id, nid AS neighbor_id, rk AS rank
            FROM ranked WHERE rk <= 10
        """,
    }


if __name__ == "__main__":
    from varpulis_spark.engine import get_spark

    spark = get_spark("entry-smoke", cores=4)
    df = entry(spark)
    df.show(5)
    print("rows:", df.count())
