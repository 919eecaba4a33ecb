"""Which public function of which layer a traced run wraps, and how the
spans of measured calls become per-layer metrics."""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

from . import spans
from .workloads import written_files

# span name -> per-layer time metric (self time unless noted in README)
TIME_METRICS = {
    "sources.split": "sources.split_s",
    "decode.discover": "decode.discover_s",
    "decode.decode": "decode.decode_s",
    "transactions.assemble": "transactions.assemble_s",
    "lww.fold": "lww.fold_s",
    "merge.apply": "merge.apply_s",
    "lineage.write": "lineage.write_s",
}
# wall time including children
WALL_METRICS = {"pipeline.batch": "pipeline.batch_s",
                "streaming.call": "streaming.call_s"}
# layers a workload may not call at all; reported as 0 with this note
NOT_EXERCISED = {
    "sources.split": "parquet chunks reach the consumer without the raw "
                     "binlog splitter",
    "streaming.call": "the archive replay calls pipeline.replay_batch "
                      "directly",
}


def _sources(df, args, kwargs) -> dict:
    path = args[1]
    files = [os.path.join(path, n) for n in os.listdir(path)]
    return {"files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files)}


def _decode(df, args, kwargs) -> dict:
    return {"frames_in": args[1].count(),
            "dead_letters": df.where(F.col("kind") == "deadletter").count()}


def _assemble(df, args, kwargs) -> dict:
    return {"rows_in": args[0].count()}


def _fold(df, args, kwargs) -> dict:
    return {"events_in": args[0].count()}


def _merge(out, args, kwargs) -> dict:
    lake, folded = args[0], args[1]
    counts = {"buckets_rewritten": out.get("buckets_rewritten", 0),
              "keys_changed": folded.count()}
    if "version" in out:
        counts["rows_written"], counts["bytes_written"] = written_files(
            lake.path, out["version"])
    else:
        counts["rows_written"] = counts["bytes_written"] = 0
    return counts


def patches(tracer: spans.Tracer) -> list:
    """``(owner, attribute, wrapper factory)`` for ``Tracer.patched``.

    ``pipeline`` and ``streaming.pipeline`` import the operator functions
    by name, so the names are swapped in the modules that call them."""
    from binlog_spark import pipeline
    from binlog_spark.operators.merge import LakeTable
    from binlog_spark.sources import binlog_file
    from binlog_spark.streaming import pipeline as streaming

    def eager(name, counter=None):
        return lambda fn: tracer.wrap_eager(name, fn, counter)

    def lazy(name, counter=None):
        return lambda fn: tracer.wrap_lazy(name, fn, counter)

    return [
        (binlog_file, "read_binlog_files", lazy("sources.split", _sources)),
        (pipeline, "discover_stream_meta", eager("decode.discover")),
        (streaming, "discover_stream_meta", eager("decode.discover")),
        (pipeline, "decode_frames", lazy("decode.decode", _decode)),
        (pipeline, "assemble_transactions",
         lazy("transactions.assemble", _assemble)),
        (pipeline, "fold_changes", lazy("lww.fold", _fold)),
        (LakeTable, "merge_apply", eager("merge.apply", _merge)),
        (pipeline, "write_lineage", eager("lineage.write")),
        (pipeline, "replay_batch", eager("pipeline.batch")),
        (streaming, "replay_batch", eager("pipeline.batch")),
        (streaming, "run_stream_ordered", eager("streaming.call")),
    ]


def per_call(tracer: spans.Tracer) -> dict:
    """``batch -> {span name -> {"self_s", "wall_s", "calls", counts}}``."""
    out: dict = {}
    for s, st in zip(tracer.spans, spans.self_times(tracer.spans)):
        if s.batch is None:
            continue
        agg = out.setdefault(s.batch, {}).setdefault(
            s.name, {"self_s": 0.0, "wall_s": 0.0, "calls": 0})
        agg["self_s"] += st
        agg["wall_s"] += s.dur
        agg["calls"] += 1
        for k, v in s.counts.items():
            agg[k] = agg.get(k, 0) + v
    return out


def metrics(tracer: spans.Tracer, batches: list) -> tuple:
    """Per-layer metrics over the traced measured calls ``batches``:
    medians per call. Returns ``(metrics, self_times, notes)``."""
    calls = per_call(tracer)
    rows = [calls.get(b, {}) for b in batches]

    def med(name, key, default=0.0):
        vals = [r[name][key] for r in rows if name in r and key in r[name]]
        return statistics.median(vals) if vals else default

    m, notes = {}, {}
    for name, metric in TIME_METRICS.items():
        m[metric] = med(name, "self_s")
    for name, metric in WALL_METRICS.items():
        m[metric] = med(name, "wall_s")
    m["sources.files"] = med("sources.split", "files")
    m["sources.frames"] = med("sources.split", "rows")
    m["sources.bytes"] = med("sources.split", "bytes")
    m["decode.discover_calls"] = med("decode.discover", "calls")
    m["decode.frames_in"] = med("decode.decode", "frames_in")
    m["decode.rows_out"] = med("decode.decode", "rows")
    m["decode.dead_letters"] = med("decode.decode", "dead_letters")
    m["transactions.rows_in"] = med("transactions.assemble", "rows_in")
    m["transactions.rows_committed"] = med("transactions.assemble", "rows")
    m["lww.events_in"] = med("lww.fold", "events_in")
    m["lww.keys_out"] = med("lww.fold", "rows")
    m["lww.events_per_key"] = (m["lww.events_in"] / m["lww.keys_out"]
                               if m["lww.keys_out"] else 0.0)
    m["merge.buckets_rewritten"] = med("merge.apply", "buckets_rewritten")
    m["merge.rows_written"] = med("merge.apply", "rows_written")
    m["merge.bytes_written"] = med("merge.apply", "bytes_written")
    m["merge.keys_changed"] = med("merge.apply", "keys_changed")
    m["merge.rows_written_per_key_changed"] = (
        m["merge.rows_written"] / m["merge.keys_changed"]
        if m["merge.keys_changed"] else 0.0)
    self_times = {}
    names = sorted({n for r in rows for n in r})
    for n in names:
        self_times[n] = med(n, "self_s")
    for name, why in NOT_EXERCISED.items():
        if not any(name in r for r in rows):
            notes[name] = f"not exercised: {why}"
    return m, self_times, notes
