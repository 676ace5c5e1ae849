"""Per-layer metrics of the traced run.

``install`` wraps each module's public entry points in spans (restored by
``Tracer.restore``) and starts the streaming listener; ``layer_metrics``
joins the spans with Spark's job, stage and SQL counters and the stream
progress events. Times and counts are per timed operation unless the name
says otherwise; ``*_ms`` of a span name is its inclusive time.
"""

from __future__ import annotations

import statistics

from spans import StreamProgress, attribute, catalyst_phases, spark_jobs

_STREAM_PHASES = {"streaming.add_batch_ms": "addBatch",
                  "streaming.query_planning_ms": "queryPlanning",
                  "streaming.wal_commit_ms": "walCommit",
                  "streaming.trigger_ms": "triggerExecution"}


class Hooks:
    def __init__(self, ctx):
        from nyc_open_data_pipeline_spark import catalog, serving
        from nyc_open_data_pipeline_spark.pipeline import parser
        from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage
        from nyc_open_data_pipeline_spark.plans import common

        self.ctx = ctx
        tr = ctx.tracer
        tr.wrap(catalog, "load_table", "catalog.load_table")
        tr.wrap(common, "load_table", "catalog.load_table")  # imported by name
        tr.wrap(parser, "parse", "parser.parse")
        tr.wrap(parser, "validate", "parser.validate")
        tr.wrap(ParquetStorage, "upsert", "storage.upsert")
        tr.wrap(ParquetStorage, "update_metadata", "storage.metadata")
        tr.wrap(ParquetStorage, "read", "storage.read")

        def keep(df):
            ctx.last_df = df

        tr.wrap(serving, "feature_collection", "serving.plan", on_result=keep)
        self.phases: list[dict[str, float]] = []
        self.stream = StreamProgress(ctx.spark)
        ctx.after_op = self.after_op

    def after_op(self) -> None:
        df, self.ctx.last_df = self.ctx.last_df, None
        if df is not None:
            self.phases.append(catalyst_phases(df))

    def close(self) -> None:
        self.stream.close()

    def layer_metrics(self, wl, attempted, t_loop, t_end, units: dict[str, str],
                      measured: dict) -> dict:
        """Every per-layer metric named in ``units`` (name -> unit);
        ``measured`` holds those the harness took itself (session start,
        memory, steal, the traced loop's figures)."""
        from nyc_open_data_pipeline_spark.plans.common import drain_cache_build_secs

        tr = self.ctx.tracer
        spans = tr.spans
        timed = [i for i, s in enumerate(spans) if s.op is not None]
        w0 = min(spans[i].start for i in timed) if timed else 0.0
        w1 = max(spans[i].end for i in timed) if timed else 0.0
        n = max(attempted, 1)

        jobs = spark_jobs(self.ctx.spark, w0)
        owner = attribute(tr, [j for j in jobs if j.submitted <= w1])

        def op_of(j):
            # The client thread's jobs carry their operation's job group;
            # jobs without one (stream threads) belong to the operation
            # whose span holds their submission time.
            if j.group and j.group.startswith("op"):
                return int(j.group[2:])
            i = owner.get(j.job_id)
            return spans[i].op if i is not None else None

        mine = [j for j in jobs if op_of(j) is not None]

        def chain(i):
            while i is not None:
                yield spans[i].name
                i = spans[i].parent

        def under(name, j):
            return name in chain(owner.get(j.job_id))

        def ms(name, outside=None):
            tot = sum(spans[i].end - spans[i].start for i in timed
                      if spans[i].name == name and (outside is None or outside not in chain(i)))
            return 1000 * tot / n

        def calls(name):
            return sum(1 for i in timed if spans[i].name == name) / n

        def jobsum(attr):
            return sum(getattr(j, attr) for j in mine) / n

        docs = [1000 * (spans[i].end - spans[i].start) for i in timed if spans[i].name == "serving.doc"]
        batches = [b for b in self.stream.batches if w0 <= b["t"] <= w1]
        phases = lambda k: sum(p.get(k, 0.0) for p in self.phases) / max(len(self.phases), 1)
        written = sum(j.output_bytes for j in mine if under("storage.upsert", j))
        input_bytes = getattr(wl, "input_bytes", 0)
        m = {
            "plans.cache_build_s": sum(drain_cache_build_secs().values()),
            "catalog.load_table_ms": ms("catalog.load_table"),
            "catalog.load_table_calls": calls("catalog.load_table"),
            "plans.build_ms": ms("plans.build"),
            "plans.build_jobs": sum(1 for j in mine if under("plans.build", j)) / n,
            "catalyst.analysis_ms": phases("analysis"),
            "catalyst.optimization_ms": phases("optimization"),
            "catalyst.planning_ms": phases("planning"),
            "exec.ms": 1000 * jobsum("completed") - 1000 * jobsum("submitted"),
            "exec.jobs": len(mine) / n,
            "exec.stages": jobsum("stages"),
            "exec.tasks": jobsum("tasks"),
            "exec.input_bytes": jobsum("input_bytes"),
            "exec.shuffle_read_bytes": jobsum("shuffle_read_bytes"),
            "exec.shuffle_write_bytes": jobsum("shuffle_write_bytes"),
            "exec.spill_bytes": jobsum("spill_bytes"),
            "exec.executor_run_ms": jobsum("executor_run_ms"),
            "exec.python_eval_ms": jobsum("python_eval_ms"),
            "streaming.batches": len(batches) / n,
            **{k: sum(b["durationMs"].get(v, 0) for b in batches) / n
               for k, v in _STREAM_PHASES.items()},
            "parser.parse_ms": ms("parser.parse"),
            "parser.validate_ms": ms("parser.validate"),
            "parser.validate_jobs": sum(1 for j in mine if under("parser.validate", j)) / n,
            "storage.upsert_ms": ms("storage.upsert", outside="storage.metadata"),
            "storage.upsert_jobs": sum(1 for j in mine if under("storage.upsert", j)
                                       and not under("storage.metadata", j)) / n,
            "storage.metadata_ms": ms("storage.metadata"),
            "storage.read_ms": ms("storage.read"),
            "storage.live_files": 0.0,
            "storage.generations": 0.0,
            "storage.bytes_written": written / n,
            "storage.write_amp": written / input_bytes if input_bytes else 0.0,
            "serving.doc_ms": statistics.median(docs) if docs else 0.0,
            "serving.doc_bytes": 0.0,
            "ingest.fresh_read_ms": 0.0,
            "ingest.store_mb": 0.0,
            "ingest.rows_per_s": getattr(wl, "rows_in", 0) / (t_end - t_loop),
            "trace.spans": float(len(spans)),
        }
        m.update(measured)
        m.update(wl.layer_metrics())
        return {k: {"value": float(m[k]), "unit": u} for k, u in units.items()}


def install(ctx) -> Hooks:
    return Hooks(ctx)
