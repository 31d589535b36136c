"""REST control plane (reference: varpulis-cli/src/api.rs:1-2299 —
`varpulis server`, SURVEY §3 entry point 2).

Implements the deploy/inject demo workflow on the stdlib HTTP server:

- `POST /api/v1/pipelines`        {name, source} → {id, name, status}
  (DeployPipelineRequest/Response, api.rs:25-35; the VPL source is parsed
  and validated at deploy time, handle_deploy api.rs:347-390)
- `GET /api/v1/pipelines`         → [{id, name, status, uptime_secs}]
- `GET /api/v1/pipelines/:id`     → pipeline info incl. source
- `DELETE /api/v1/pipelines/:id`  → undeploy
- `POST /api/v1/pipelines/:id/events`        {event_type, fields} →
  {accepted, output_events} (InjectEventRequest api.rs:62-65,
  handle_inject api.rs:538-600 — synchronous: the response carries the
  output events the injection produced)
- `POST /api/v1/pipelines/:id/events-batch`  {events: [...]} →
  {accepted, output_events, processing_time_us} (api.rs:68-77)
- `GET /api/v1/pipelines/:id/metrics`        per-pipeline counters
- `GET /api/v1/pipelines/:id/logs?since=N`   output-event window
  (handle_logs api.rs:896 streams these over SSE; we serve a polling JSON
  window — documented divergence, stdlib server)
- `POST /api/v1/pipelines/:id/checkpoint`    → {pipeline_id, checkpoint,
  events_processed} (CheckpointResponse api.rs:85; the replay model's
  checkpoint is {source, event log} — exact by construction)
- `POST /api/v1/pipelines/:id/restore`       {checkpoint} → {pipeline_id,
  restored, events_restored} (RestoreRequest api.rs:92; creates or
  replaces the pipeline at :id, baselining announced outputs)
- `POST /api/v1/pipelines/:id/reload`        {source} → ReloadReport
- `GET /api/v1/usage`             single-tenant usage counters + quota
  (handle_usage api.rs:853; multi-tenancy itself is a declared non-goal,
  so the server aggregates as one enterprise-quota tenant)

Auth mirrors with_api_key: when the server is constructed with an
api_key, requests must carry it in `x-api-key` (401 otherwise). Request
bodies are bounded by the shared ingest limit (limits.py parity with
api.rs JSON_BODY_LIMIT).

Execution-model note (documented divergence): the reference engine is
push-per-event — injection feeds a live NFA and returns the incremental
outputs. Spark is micro-batch: each injection appends to the pipeline's
event log and re-runs the compiled program over the log; the response
returns the DELTA of output rows versus the previous run (multiset diff
per stream), which for the reference's demo workflows is the same
observable contract. State is the event log itself — restart-safe and
exactly re-derivable, the Spark-native equivalent of the engine's NFA
state. Do not use this path for high-throughput ingest; it exists for the
reference's deploy/demo/test workflows (the streaming entry points are
the Kafka/file/webhook sources).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from varpulis_spark.limits import payload_too_large

API_PREFIX = "/api/v1"


class _NotIncremental(Exception):
    """Program shape the incremental runner cannot host (no typed event
    declarations, streaming lowering failure, ...) — replay mode instead."""


class _IncrementalRunner:
    """Push-engine analog for REST injection (VERDICT r7 'missing' #1).

    Replay-mode injection re-runs the compiled program over the
    pipeline's FULL event log, so cost grows with log length — O(log²)
    over a pipeline's life — where the reference's push engine is O(1)
    per event (engine/mod.rs:2309). This runner keeps ONE live
    Structured Streaming query per emit stream over a spool directory;
    an injection appends one parquet file and drains the delta, so each
    query's micro-batch reads exactly the injected rows (pinned by
    tests/test_api.py::test_incremental_injection_reads_only_the_delta),
    with stateful ops (patterns, windows, distinct, trend) carrying
    their state in the streaming twins' state stores.

    Requires typed `event` declarations (the reference's contract too) —
    the spool schema must be fixed before the first micro-batch. An
    injection carrying an undeclared field raises _NotIncremental and the
    pipeline falls back to replay mode (lossless: the event log is the
    source of truth in both modes)."""

    @staticmethod
    def _merged_schema(prog) -> tuple[dict[str, str], dict[str, set]]:
        """Unified payload schema across all declared event types, with the
        same reserved-name suffixing + type-widening rules as events_to_df
        so both modes present identical column names. Returns
        (col → sql type, event type → declared field names)."""
        from varpulis_spark.vpl.compiler import _TYPES

        if not getattr(prog, "events", None):
            raise _NotIncremental("no event declarations")
        decls = {d.name: d for d in prog.events}

        def fields_of(name: str) -> list:
            d = decls[name]
            base = fields_of(d.base) if d.base and d.base in decls else []
            return base + list(d.fields)

        reserved = {"event_id", "ts", "event_type"}
        merged: dict[str, str] = {}
        for name in decls:
            for f, t in fields_of(name):
                col = f"{f}_payload" if f in reserved else f
                st = _TYPES.get(t, "string")
                cur = merged.get(col)
                if cur is None or cur == st:
                    merged[col] = st
                elif {cur, st} == {"long", "double"}:
                    merged[col] = "double"
                else:
                    merged[col] = "string"
        declared = {name: {f for f, _t in fields_of(name)} for name in decls}
        return dict(sorted(merged.items())), declared

    def _spool_schema(self):
        from pyspark.sql.types import (
            BooleanType,
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        sql_t = {
            "long": LongType(),
            "double": DoubleType(),
            "string": StringType(),
            "boolean": BooleanType(),
        }
        return StructType(
            [
                StructField("event_id", LongType()),
                StructField("ts", TimestampType()),
                StructField("event_type", StringType()),
            ]
            + [StructField(n, sql_t[t]) for n, t in self.fields.items()]
        )

    def _start_query(self, rdf, ckpt: str, rows: list, sname: str):
        def sink(df, epoch):
            for row in df.collect():
                fields = {k: _jsonable(v) for k, v in row.asDict().items()}
                rows.append(
                    {
                        "event_type": fields.get("event_type", sname),
                        "stream": sname,
                        "fields": fields,
                    }
                )

        return (
            rdf.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .start()
        )

    def _compile_streaming(self, source_text: str, emit_streams: set[str]):
        """run_program over the live spool; returns {stream → streaming df}
        for the emit streams, raising _NotIncremental on any batch
        lowering. Stateful micro-batches pay per-partition fixed cost every
        injection; 8 state partitions (not the session's 32) keep the
        per-injection wall low at control-plane key counts."""
        from varpulis_spark import streaming as S
        from varpulis_spark.vpl.compiler import run_program

        src = S.file_source(
            self.spark, self.spool, self._spool_schema(), order_col="event_id"
        )
        prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            results = run_program(source_text, src)
            out = {}
            for sname in sorted(emit_streams & set(results)):
                rdf = results[sname]
                if not rdf.isStreaming:
                    raise _NotIncremental(f"stream {sname} lowered to batch")
                out[sname] = rdf
            if not out:
                raise _NotIncremental("no streaming emit streams")
            return out
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", prev)

    def __init__(self, spark, source_text: str, prog, emit_streams: set[str]):
        import shutil as _shutil
        import tempfile

        self.spark = spark
        self.fields, self.declared = self._merged_schema(prog)
        self._tmp = tempfile.mkdtemp(prefix="vapi_inc_")
        self.spool = os.path.join(self._tmp, "spool")
        os.makedirs(self.spool)
        self.next_event_id = 0
        self._n_files = 0
        self._gen = 0  # checkpoint generation for reset streams
        self.queries: dict[str, object] = {}
        self.sink_rows: dict[str, list] = {}
        self._rmtree = _shutil.rmtree
        try:
            for sname, rdf in self._compile_streaming(
                source_text, emit_streams
            ).items():
                rows: list = []
                self.sink_rows[sname] = rows
                self.queries[sname] = self._start_query(
                    rdf, os.path.join(self._tmp, f"ckpt_{sname}"), rows, sname
                )
        except _NotIncremental:
            self.close()
            raise
        except Exception as e:  # streaming lowering failed → replay mode
            self.close()
            raise _NotIncremental(str(e)) from e

    def reload(
        self,
        source_text: str,
        prog,
        emit_streams: set[str],
        preserved: set[str],
    ) -> list[dict]:
        """State-preserving hot reload (engine/mod.rs:3254-3390
        ReloadReport semantics, r9): restart each PRESERVED emit stream's
        query against its EXISTING checkpoint — the streaming state store
        carries pattern/window/distinct state across the swap and the
        resumed query reads only FUTURE spool files (wall time independent
        of log length). Updated/added streams get a fresh checkpoint and
        re-derive from the full spool (lossless reset — an upgrade over
        the reference's lost NFA state); their catch-up rows are returned
        for the server to announce (replay-mode reload parity). Raises
        _NotIncremental when the new program cannot host incremental mode
        (schema change, batch lowering) — caller falls back to replay."""
        fields, declared = self._merged_schema(prog)
        if fields != self.fields:
            raise _NotIncremental("reload changes the spool schema")
        compiled = self._compile_streaming(source_text, emit_streams)
        # one checkpoint dir cannot serve two live queries: stop the old
        # generation before starting the new one
        for q in self.queries.values():
            try:
                q.stop()
            except Exception:  # noqa: BLE001
                pass
        new_queries: dict[str, object] = {}
        new_rows: dict[str, list] = {}
        reset: list[str] = []
        try:
            for sname, rdf in compiled.items():
                if sname in preserved and sname in self.queries:
                    rows = self.sink_rows[sname]
                    ckpt = os.path.join(self._tmp, f"ckpt_{sname}")
                else:
                    rows = []
                    self._gen += 1
                    ckpt = os.path.join(
                        self._tmp, f"ckpt_{sname}_g{self._gen}"
                    )
                    reset.append(sname)
                new_rows[sname] = rows
                new_queries[sname] = self._start_query(rdf, ckpt, rows, sname)
        except Exception as e:
            for q in new_queries.values():
                try:
                    q.stop()
                except Exception:  # noqa: BLE001
                    pass
            raise _NotIncremental(str(e)) from e
        self.queries = new_queries
        self.sink_rows = new_rows
        self.declared = declared
        # reset/added streams chew through the whole spool now; everything
        # they emit during catch-up is the re-derivation of history
        catchup: list[dict] = []
        for sname in reset:
            self.queries[sname].processAllAvailable()
            catchup.extend(self.sink_rows[sname])
        return catchup

    def check_declared(self, events: list[tuple[float, str, dict]]) -> None:
        """Raise _NotIncremental if any event carries an undeclared type or
        field — the fixed spool schema cannot represent it — or a declared
        field whose VALUE the spool column type cannot coerce (a coercion
        error inside inject() would 500 after the event log had already
        advanced, leaving announced state inconsistent)."""
        reserved = {"event_id", "ts", "event_type"}
        raw_types: dict[str, str] = {}
        for name, typ in self.fields.items():
            raw = (
                name[: -len("_payload")]
                if name.endswith("_payload")
                and name[: -len("_payload")] in reserved
                else name
            )
            raw_types[raw] = typ
        for _off, etype, payload in events:
            known = self.declared.get(etype)
            if known is None or any(k not in known for k in payload):
                raise _NotIncremental(f"undeclared event shape: {etype}")
            for k, v in payload.items():
                if v is None:
                    continue
                t = raw_types.get(k)
                try:
                    if t == "double":
                        float(v)
                    elif t == "long":
                        int(v)
                    elif t == "boolean" and not isinstance(v, bool):
                        raise ValueError(v)
                except (TypeError, ValueError):
                    raise _NotIncremental(
                        f"non-coercible value for {etype}.{k}: {v!r}"
                    ) from None

    def inject(self, events: list[tuple[float, str, dict]]) -> list[dict]:
        """Append one spool file with `events`, drain every query, return
        the newly emitted rows (announcement order: stream name, then
        emission order)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from datetime import timedelta

        from varpulis_spark.sources.event_file import EPOCH

        def off_us(off: float) -> int:
            # timedelta's round-half-even µs, exactly as events_to_df
            # computes EPOCH + timedelta(seconds=off) in replay mode —
            # int(off * 1e6) truncation caused 1 µs ts drift between the
            # modes, breaking the fallback's delta re-baselining
            td = timedelta(seconds=off)
            return (td.days * 86400 + td.seconds) * 10**6 + td.microseconds

        reserved = {"event_id", "ts", "event_type"}
        n = len(events)
        epoch_us = int(EPOCH.timestamp() * 1e6)
        cols: dict[str, list] = {
            "event_id": list(range(self.next_event_id, self.next_event_id + n)),
            "ts": [epoch_us + off_us(off) for off, _t, _p in events],
            "event_type": [t for _o, t, _p in events],
        }
        self.next_event_id += n
        for name, typ in self.fields.items():
            raw = name[: -len("_payload")] if name.endswith("_payload") and name[: -len("_payload")] in reserved else name
            vals = [p.get(raw) for _o, _t, p in events]
            if typ == "double":
                vals = [float(v) if v is not None else None for v in vals]
            elif typ == "long":
                vals = [int(v) if v is not None else None for v in vals]
            elif typ == "string":
                vals = [str(v) if v is not None else None for v in vals]
            cols[name] = vals
        pa_t = {
            "long": pa.int64(),
            "double": pa.float64(),
            "string": pa.string(),
            "boolean": pa.bool_(),
        }
        tbl = pa.table(
            {
                "event_id": pa.array(cols["event_id"], type=pa.int64()),
                "ts": pa.array(cols["ts"], type=pa.timestamp("us", tz="UTC")),
                "event_type": pa.array(cols["event_type"], type=pa.string()),
                **{
                    nm: pa.array(cols[nm], type=pa_t[t])
                    for nm, t in self.fields.items()
                },
            }
        )
        tmp = os.path.join(self.spool, f".inj_{self._n_files:08d}.parquet.tmp")
        dst = os.path.join(self.spool, f"inj_{self._n_files:08d}.parquet")
        pq.write_table(tbl, tmp)
        os.rename(tmp, dst)
        self._n_files += 1
        marks = {s: len(rows) for s, rows in self.sink_rows.items()}
        for q in self.queries.values():
            q.processAllAvailable()
        fresh: list[dict] = []
        for sname in sorted(self.sink_rows):
            fresh.extend(self.sink_rows[sname][marks[sname]:])
        return fresh

    def last_batch_rows(self) -> dict[str, int]:
        """numInputRows of each query's latest micro-batch (test hook: an
        injection of k events must read exactly k rows, not the log)."""
        out = {}
        for sname, q in self.queries.items():
            lp = q.lastProgress
            out[sname] = int(lp["numInputRows"]) if lp else -1
        return out

    def close(self) -> None:
        for q in self.queries.values():
            try:
                q.stop()
            except Exception:  # noqa: BLE001
                pass
        self.queries = {}
        self._rmtree(self._tmp, ignore_errors=True)


class _Pipeline:
    def __init__(self, pid: str, name: str, source: str,
                 emit_streams: set[str]):
        self.id = pid
        self.name = name
        self.source = source
        self.emit_streams = emit_streams
        self.deployed_at = time.time()
        self.events: list[tuple[float, str, dict]] = []  # (offset_s, type, fields)
        self.prev_counts: dict[tuple[str, str], int] = {}
        self.status = "running"
        # push-engine runner (incremental mode); None = replay mode
        self.runner: _IncrementalRunner | None = None
        # reset-stream catch-up rows from a live reload, announced with
        # the next injection (replay-reload announcement parity)
        self.pending_outputs: list[dict] = []
        # every output event ever announced, in order (the reference
        # broadcasts these over an SSE channel, handle_logs api.rs:896;
        # we record them for the polling GET /logs endpoint)
        self.output_log: list[dict] = []

    @property
    def mode(self) -> str:
        return "incremental" if self.runner is not None else "replay"


class PipelineServer:
    """Transport-independent handler + optional stdlib HTTP server.

    `handle(method, path, body, headers)` is the whole control plane —
    tests may drive it directly; `start()` binds it to a ThreadingHTTPServer
    on (host, port) like the webhook source."""

    def __init__(self, spark, host: str = "127.0.0.1", port: int = 0,
                 api_key: str | None = None):
        self.spark = spark
        self.host = host
        self.port = port
        self.api_key = api_key
        self._pipelines: dict[str, _Pipeline] = {}
        self._latency: dict = {}  # stream label → LatencyHistogram
        self._server = None
        import threading

        # ThreadingHTTPServer handles each request on its own thread, but
        # pipeline state (the _pipelines dict, per-pipeline event logs, the
        # prev_counts swap in _run_delta) is plain mutable state — serialize
        # the whole control plane (ADVICE r5); it is a demo/ops surface,
        # not a data path, so one lock costs nothing.
        self._lock = threading.Lock()

    # -- routing -----------------------------------------------------------
    def handle(self, method: str, path: str, body: bytes,
               headers: dict) -> tuple[int, dict]:
        with self._lock:
            return self._handle_locked(method, path, body, headers)

    def _handle_locked(self, method: str, path: str, body: bytes,
                       headers: dict) -> tuple[int, dict]:
        if self.api_key is not None:
            if headers.get("x-api-key") != self.api_key:
                return 401, {"error": "invalid_api_key",
                             "message": "Invalid API key"}
        if body and payload_too_large(body):
            return 413, {"error": "payload_too_large"}
        if path.split("?")[0] == "/metrics" and method == "GET":
            # Prometheus exposition endpoint (runtime/src/metrics.rs —
            # the reference serves this on its metrics port; scrapers
            # consume the text format directly). String reply = text/plain.
            return 200, self._prometheus()
        if not path.startswith(API_PREFIX + "/"):
            return 404, {"error": "not_found"}
        path, _, qs = path.partition("?")
        from urllib.parse import parse_qs

        query = {k: v[-1] for k, v in parse_qs(qs).items()}
        parts = [p for p in path[len(API_PREFIX):].split("/") if p]
        try:
            payload = json.loads(body) if body else None
        except ValueError:
            return 400, {"error": "invalid_json"}

        if parts == ["usage"] and method == "GET":
            # handle_usage (varpulis-cli/src/api.rs:287-293,853-893):
            # per-tenant usage counters + quota. Multi-tenancy is a
            # declared non-goal (SURVEY — platform concern), so this
            # server IS one tenant: counters aggregate the whole server
            # (TenantUsage tenant.rs:94-105 field names preserved) and
            # the quota mirrors TenantQuota::enterprise() (tenant.rs:83-89)
            # — the tier with no practical caps, matching this server's
            # unmetered behavior.
            return 200, {
                "tenant_id": "default",
                "events_processed": sum(
                    len(p.events) for p in self._pipelines.values()
                ),
                "output_events_emitted": sum(
                    len(p.output_log) for p in self._pipelines.values()
                ),
                "active_pipelines": sum(
                    1 for p in self._pipelines.values()
                    if p.status == "running"
                ),
                "quota": {
                    "max_pipelines": 1000,
                    "max_events_per_second": 500_000,
                    "max_streams_per_pipeline": 500,
                },
            }
        if parts == ["pipelines"]:
            if method == "POST":
                return self._deploy(payload)
            if method == "GET":
                return 200, {"pipelines": [self._info(p) for p in
                                           self._pipelines.values()]}
        elif len(parts) == 2 and parts[0] == "pipelines":
            p = self._pipelines.get(parts[1])
            if p is None:
                return 404, {"error": "pipeline_not_found"}
            if method == "GET":
                return 200, self._info(p, with_source=True)
            if method == "DELETE":
                if p.runner is not None:
                    p.runner.close()
                del self._pipelines[parts[1]]
                return 200, {"status": "deleted", "id": parts[1]}
        elif len(parts) == 3 and parts[0] == "pipelines":
            if parts[2] == "restore" and method == "POST":
                # handle_restore (api.rs:253-263, RestoreRequest :92):
                # rebuild the pipeline at this id from a checkpoint —
                # creating it if absent, like the reference's tenant
                # restore; no prior pipeline required.
                cp = (payload or {}).get("checkpoint")
                if not isinstance(cp, dict) or "source" not in cp:
                    return 400, {"error": "expected {checkpoint}"}
                return self._restore(parts[1], cp)
            p = self._pipelines.get(parts[1])
            if p is None:
                return 404, {"error": "pipeline_not_found"}
            if parts[2] == "events" and method == "POST":
                if not isinstance(payload, dict) or "event_type" not in payload:
                    return 400, {"error": "expected {event_type, fields}"}
                return self._inject(p, [payload])
            if parts[2] == "events-batch" and method == "POST":
                evs = (payload or {}).get("events")
                if not isinstance(evs, list):
                    return 400, {"error": "expected {events: [...]}"}
                return self._inject(p, evs)
            if parts[2] == "metrics" and method == "GET":
                # handle_metrics (api.rs): per-pipeline counters
                by_type: dict[str, int] = {}
                for _off, et, _f in p.events:
                    by_type[et] = by_type.get(et, 0) + 1
                return 200, {
                    "id": p.id,
                    "events_ingested": len(p.events),
                    "events_by_type": by_type,
                    # every announced row (== sum(prev_counts) in replay
                    # mode; prev_counts is unused in incremental mode)
                    "output_rows_total": len(p.output_log),
                    "uptime_secs": int(time.time() - p.deployed_at),
                }
            if parts[2] == "logs" and method == "GET":
                # handle_logs (api.rs:896): the reference streams output
                # events over SSE; our stdlib server serves the same events
                # as a polling JSON window — GET /logs?since=N returns
                # everything announced at offset >= N plus the next offset
                # (documented divergence: poll, not push).
                try:
                    since = int(query.get("since", 0))
                except ValueError:
                    return 400, {"error": "since must be an integer"}
                return 200, {
                    "id": p.id,
                    "logs": p.output_log[since:],
                    "next_offset": len(p.output_log),
                }
            if parts[2] == "checkpoint" and method == "POST":
                # handle_checkpoint (api.rs:674, CheckpointResponse :85):
                # in the replay model the pipeline's full state IS
                # {source, event log}, so the checkpoint is exact by
                # construction — no live NFA serialization needed. The
                # blob carries the schema version + counters
                # (EngineCheckpoint, persistence.rs:705-744).
                from varpulis_spark.persistence import new_checkpoint

                return 200, {
                    "pipeline_id": p.id,
                    "checkpoint": {
                        **new_checkpoint(
                            name=p.name,
                            source=p.source,
                            events=[[off, et, f] for off, et, f in p.events],
                            events_processed=len(p.events),
                            output_events_emitted=len(p.output_log),
                        ),
                    },
                    "events_processed": len(p.events),
                }
            if parts[2] == "reload" and method == "POST":
                # handle_reload (ReloadPipelineRequest api.rs:80-82): swap
                # the program, keep the event log — the replay model makes
                # state carry-over exact (the new program re-derives from
                # the same events; the reference diffs live NFA state).
                # The response carries the reference's ReloadReport
                # (engine/mod.rs:3254-3384): added/removed/updated streams
                # plus state_preserved/state_reset under the same
                # source-compatibility + op-count heuristic.
                if not isinstance(payload, dict) or "source" not in payload:
                    return 400, {"error": "expected {source}"}
                from varpulis_spark.vpl.parser import parse_full

                try:
                    prog = parse_full(payload["source"])
                except Exception as e:  # noqa: BLE001
                    return 400, {"error": "parse_error", "message": str(e)}
                report = _reload_report(parse_full(p.source), prog)
                new_emit = {
                    d.name for d in prog.streams
                    if any(op.name == "emit" for op in d.ops)
                }
                live = False
                if p.runner is not None:
                    # incremental mode (r9): swap the program IN PLACE —
                    # preserved streams restart on their existing
                    # checkpoints (live state survives, no replay; the
                    # resumed queries read only future spool files), reset
                    # streams re-derive from the spool with a fresh
                    # checkpoint and their catch-up rows announce with the
                    # next injection (replay-reload parity). Falls back to
                    # replay when the new program cannot host incremental.
                    try:
                        p.pending_outputs.extend(
                            p.runner.reload(
                                payload["source"], prog, new_emit,
                                set(report["state_preserved"]),
                            )
                        )
                        live = True
                    except _NotIncremental:
                        self._fallback_to_replay(p)
                else:
                    self._fallback_to_replay(p)
                p.source = payload["source"]
                p.emit_streams = new_emit
                if not live:
                    # replay-mode delta baselines: preserved streams keep
                    # theirs (their already-announced outputs are not
                    # re-announced); updated/removed streams drop theirs —
                    # the next injection re-derives the updated streams
                    # from the full event log, which the reference's
                    # live-state reset CANNOT (its NFA state is simply
                    # lost; replay makes the reset lossless)
                    drop = set(report["state_reset"]) | set(
                        report["streams_removed"]
                    )
                    p.prev_counts = {
                        k: v for k, v in p.prev_counts.items()
                        if k[0] not in drop
                    }
                return 200, {
                    "id": p.id, "status": "reloaded", "mode": p.mode,
                    **report,
                }
        return 404, {"error": "not_found"}

    # -- handlers ----------------------------------------------------------
    def _deploy(self, payload) -> tuple[int, dict]:
        if not isinstance(payload, dict) or "source" not in payload:
            return 400, {"error": "expected {name, source}"}
        name = payload.get("name", "pipeline")
        source = payload["source"]
        from varpulis_spark.vpl.parser import parse_full

        try:
            prog = parse_full(source)
        except Exception as e:  # noqa: BLE001
            return 400, {"error": "parse_error", "message": str(e)}
        # semantic validation gates the load, exactly like the reference's
        # Engine::load_with_source (engine/mod.rs:337-344): errors reject
        # the deploy, warnings ride along in the response
        from varpulis_spark.vpl.validate import validate as _validate

        vres = _validate(prog)
        if vres.errors:
            return 400, {
                "error": "validation_error",
                "diagnostics": [d.format() for d in vres.errors],
            }
        warnings = [d.format() for d in vres.warnings]
        # output events = what `.emit` produces (the reference's output
        # channel carries emitted events; pass-through/merge/`.to` streams
        # relay them and would duplicate the response)
        emit_streams = {
            d.name for d in prog.streams
            if any(op.name == "emit" for op in d.ops)
        }
        pid = f"{name}-{uuid.uuid4().hex[:8]}"
        p = _Pipeline(pid, name, source, emit_streams)
        try:
            p.runner = _IncrementalRunner(self.spark, source, prog, emit_streams)
        except _NotIncremental:
            p.runner = None  # replay mode (full-log re-run per injection)
        self._pipelines[pid] = p
        out = {"id": pid, "name": name, "status": "running", "mode": p.mode}
        if warnings:
            out["warnings"] = warnings
        return 200, out

    def _info(self, p: _Pipeline, with_source: bool = False) -> dict:
        out = {
            "id": p.id, "name": p.name, "status": p.status,
            "uptime_secs": int(time.time() - p.deployed_at),
            "events_ingested": len(p.events),
            "mode": p.mode,
        }
        if with_source:
            out["source"] = p.source
        return out

    def _inject(self, p: _Pipeline, events: list) -> tuple[int, dict]:
        t0 = time.time()
        triples: list[tuple[float, str, dict]] = []
        for ev in events:
            if not isinstance(ev, dict) or "event_type" not in ev:
                return 400, {"error": "expected {event_type, fields}"}
            off = time.time() - p.deployed_at
            triples.append((off, ev["event_type"], dict(ev.get("fields") or {})))
        if p.runner is not None:
            try:
                p.runner.check_declared(triples)
            except _NotIncremental:
                # undeclared event shape: the fixed spool schema cannot
                # carry it — drop to replay mode (lossless: the event log
                # is the source of truth in both modes; already-announced
                # rows are re-baselined from the output log)
                self._fallback_to_replay(p)
        p.events.extend(triples)
        try:
            if p.runner is not None:
                new_rows = p.runner.inject(triples)
            else:
                new_rows = self._run_delta(p)
        except Exception as e:  # noqa: BLE001
            if triples:
                # the client is told these events failed — they must not
                # stay in the log for a later replay/checkpoint to process
                # (BOTH modes, ADVICE r9 #4: a replay-mode failure used to
                # leave them for later replays to silently include)
                del p.events[-len(triples):]
            if p.runner is not None:
                # the runner's spool already consumed the failed events, so
                # its streaming state disagrees with the rolled-back log;
                # rebuild from the (consistent) log in replay mode instead
                # of 500ing every future inject on the broken query
                self._fallback_to_replay(p)
            return 500, {"error": "execution_error", "message": str(e)}
        if p.pending_outputs:
            # reset-stream catch-up from a live reload rides the next
            # injection's announcement, like replay-reload re-derivation
            new_rows = p.pending_outputs + new_rows
            p.pending_outputs = []
        p.output_log.extend(new_rows)
        from varpulis_spark.metrics import LatencyHistogram

        self._latency.setdefault(p.name, LatencyHistogram()).record(
            time.time() - t0
        )
        return 200, {
            "accepted": len(events),
            "output_events": new_rows,
            "processing_time_us": int((time.time() - t0) * 1e6),
        }

    def _prometheus(self) -> str:
        """Aggregate pipeline counters into the reference's metric families
        (varpulis_events_total / events_processed / output_events_total /
        active_streams / processing_latency_seconds)."""
        from varpulis_spark.metrics import prometheus_text

        events_by_type: dict[str, int] = {}
        processed: dict[str, int] = {}
        output: dict[tuple[str, str], int] = {}
        active = 0
        for p in self._pipelines.values():
            if p.status == "running":
                active += len(p.emit_streams)
            for _off, et, _f in p.events:
                events_by_type[et] = events_by_type.get(et, 0) + 1
            for row in p.output_log:
                s = row.get("stream", "")
                et = row.get("event_type", s)
                processed[s] = processed.get(s, 0) + 1
                output[(s, et)] = output.get((s, et), 0) + 1
        return prometheus_text(
            events_by_type, processed, output, active, self._latency
        )

    def _fallback_to_replay(self, p: _Pipeline) -> None:
        """Tear down the push runner and re-baseline the replay-mode delta
        counts from everything already announced, so the next replay run
        announces only genuinely new rows."""
        if p.runner is not None:
            p.runner.close()
            p.runner = None
        # un-announced reload catch-up rows are not in output_log, so the
        # next replay run re-derives them anyway — keeping them here would
        # announce them twice
        p.pending_outputs = []
        counts: dict[tuple[str, str], int] = {}
        for row in p.output_log:
            key = (row["stream"], json.dumps(row["fields"], sort_keys=True))
            counts[key] = counts.get(key, 0) + 1
        p.prev_counts = counts

    def _restore(self, pid: str, cp: dict) -> tuple[int, dict]:
        from varpulis_spark.persistence import StoreError, validate_and_migrate
        from varpulis_spark.vpl.parser import parse_full

        try:
            # version gating (persistence.rs:746-766): a checkpoint from a
            # FUTURE schema version is rejected; missing version = 1
            cp = validate_and_migrate(dict(cp))
        except StoreError as e:
            return 400, {"error": "version_error", "message": str(e)}
        try:
            prog = parse_full(cp["source"])
        except Exception as e:  # noqa: BLE001
            return 400, {"error": "parse_error", "message": str(e)}
        emit_streams = {
            d.name for d in prog.streams
            if any(op.name == "emit" for op in d.ops)
        }
        old = self._pipelines.get(pid)
        if old is not None and old.runner is not None:
            old.runner.close()
        p = _Pipeline(pid, cp.get("name", pid), cp["source"], emit_streams)
        for ev in cp.get("events") or []:
            off, etype, fields = ev
            p.events.append((float(off), str(etype), dict(fields or {})))
        try:
            p.runner = _IncrementalRunner(self.spark, p.source, prog, emit_streams)
            if p.events:
                p.runner.check_declared(p.events)
        except _NotIncremental:
            if p.runner is not None:
                p.runner.close()
            p.runner = None
        if p.events:
            # baseline run: outputs derivable from the checkpointed log are
            # state, not news — the next injection announces only deltas
            try:
                if p.runner is not None:
                    restored_rows = p.runner.inject(p.events)
                else:
                    restored_rows = self._run_delta(p)
                p.output_log.extend(restored_rows)
            except Exception as e:  # noqa: BLE001
                return 500, {"error": "execution_error", "message": str(e)}
        self._pipelines[pid] = p
        return 200, {
            "pipeline_id": pid,
            "restored": True,
            "events_restored": len(p.events),
        }

    def _run_delta(self, p: _Pipeline) -> list[dict]:
        """Re-run the program over the event log; return output rows that
        are NEW versus the previous run (per-stream multiset diff)."""
        from varpulis_spark.sources.event_file import events_to_df
        from varpulis_spark.stream import Stream
        from varpulis_spark.vpl.compiler import run_program

        df = events_to_df(self.spark, p.events)
        stream = Stream(df, ts_col="ts", order_col="event_id")
        results = run_program(p.source, stream)
        counts: dict[tuple[str, str], int] = {}
        fresh: list[dict] = []
        for sname, rdf in results.items():
            if sname not in p.emit_streams:
                continue
            for row in rdf.collect():
                fields = {k: _jsonable(v) for k, v in row.asDict().items()}
                etype = fields.get("event_type", sname)
                key = (sname, json.dumps(fields, sort_keys=True))
                counts[key] = counts.get(key, 0) + 1
                if counts[key] > p.prev_counts.get(key, 0):
                    fresh.append({"event_type": etype, "stream": sname,
                                  "fields": fields})
        p.prev_counts = counts
        return fresh

    # -- HTTP server -------------------------------------------------------
    def start(self):
        import http.server
        import threading

        server = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def _do(self, method):
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n) if n else b""
                status, reply = server.handle(
                    method, self.path, body,
                    {k.lower(): v for k, v in self.headers.items()},
                )
                if isinstance(reply, str):  # /metrics exposition format
                    data = reply.encode()
                    ctype = "text/plain; version=0.0.4; charset=utf-8"
                else:
                    data = json.dumps(reply).encode()
                    ctype = "application/json"
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_POST(self):  # noqa: N802
                self._do("POST")

            def do_GET(self):  # noqa: N802
                self._do("GET")

            def do_DELETE(self):  # noqa: N802
                self._do("DELETE")

            def log_message(self, *a):  # quiet
                pass

        self._server = http.server.ThreadingHTTPServer(
            (self.host, self.port), Handler
        )
        self.port = self._server.server_address[1]
        threading.Thread(target=self._server.serve_forever, daemon=True).start()
        return self

    @property
    def url(self) -> str:
        return f"http://{self.host}:{self.port}"

    def stop(self) -> None:
        for p in self._pipelines.values():
            if p.runner is not None:
                p.runner.close()
                p.runner = None
        if self._server is not None:
            self._server.shutdown()
            self._server = None


def _stream_sig(d) -> tuple:
    """Reload-compatibility signature — the reference's heuristic
    (engine/mod.rs:3283-3295): source shape + operation count. Predicate
    (`where`) changes keep the signature equal → state preserved, exactly
    the reference's 'filter changes: state preserved' rule."""
    src = getattr(d, "source", None)
    return (
        tuple((s.event_type, s.alias, s.kleene) for s in d.steps),
        type(src).__name__ if src is not None else None,
        len(d.ops),
    )


def _stream_deps(d) -> set[str]:
    """Names a stream declaration READS: its typed/pattern steps plus any
    merge/join/sequence source parts. Names that turn out to be raw event
    types (not streams) are harmless — the caller intersects with the
    program's stream names."""
    deps = {s.event_type for s in d.steps}
    src = getattr(d, "source", None)
    if src is not None:
        for attr in ("parts", "steps"):
            for part in getattr(src, attr, None) or []:
                deps.add(part if isinstance(part, str) else part.event_type)
    deps.discard(d.name)
    return deps


def _reload_report(old_prog, new_prog) -> dict:
    """ReloadReport parity (ReloadReport fields, engine/mod.rs:3254-3384).

    `streams_updated` is the reference's per-stream signature diff;
    `state_reset` additionally closes over the stream DEPENDENCY graph
    (ADVICE r9 #2): a stream downstream of an updated/added/removed
    derived stream compiles to a different query plan even when its own
    signature is unchanged — resuming it on its old streaming checkpoint
    would fail asynchronously at the next micro-batch."""
    old = {d.name: d for d in old_prog.streams}
    new = {d.name: d for d in new_prog.streams}
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    updated, preserved = [], []
    for name in sorted(set(old) & set(new)):
        if _stream_sig(old[name]) != _stream_sig(new[name]):
            updated.append(name)
        else:
            preserved.append(name)
    # a dep can point at a CURRENT stream or a REMOVED one (still dirty:
    # the reader's plan changes when its upstream disappears); names in
    # neither set are raw event types and don't count
    stream_names = set(new) | set(old)
    deps = {d.name: _stream_deps(d) & stream_names for d in new_prog.streams}
    dirty = set(updated) | set(added) | set(removed)
    reset = set(updated)
    changed = True
    while changed:
        changed = False
        for name in preserved:
            if name not in reset and deps.get(name, set()) & dirty:
                reset.add(name)
                dirty.add(name)
                changed = True
    return {
        "streams_added": added,
        "streams_removed": removed,
        "streams_updated": updated,
        "state_preserved": sorted(set(preserved) - reset),
        "state_reset": sorted(reset),
    }


def _jsonable(v):
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v
