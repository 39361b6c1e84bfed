"""Metric names, units, and the per-layer metrics of a traced run.

Each per-layer metric feeds one end-to-end metric (see perfbench/README.md).
A traced run reports every per-layer metric on every workload; a layer that
does no work on a workload reports 0.
"""

from __future__ import annotations

import os

from .stats import mean, median

END_TO_END = {
    "setup_s": "s",
    "tokens_per_s": "tok/s",
    "pass_s": "s",
    "ratio_vs_parquet_zstd": "x",
}

READ_OPS = [
    "full_scan",
    "source_agg",
    "doc_ids",
    "doc_id_range",
    "n_tok_range",
    "contains_absent",
    "contains_rare",
    "contains_list",
]
PRUNED_READ_OPS = READ_OPS[2:]

SPARK = {
    "spark.task_s": ("task_s", "s"),
    "spark.task_cpu_s": ("task_cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.python_run_s": ("python_run_ms", "s"),
    "spark.python_bytes_in": ("python_bytes_in", "bytes"),
    "spark.python_bytes_out": ("python_bytes_out", "bytes"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spark.spill_bytes": ("spill_bytes", "bytes"),
    "spark.input_bytes": ("input_bytes", "bytes"),
    "spark.n_stages": ("n_stages", "count"),
    "spark.n_tasks": ("n_tasks", "count"),
    "spark.failed_tasks": ("failed_tasks", "count"),
}

REPLAY = {
    "chunk.encode_s": "s",
    "chunk.decode_s": "s",
    "strings.encode_s": "s",
    "strings.decode_s": "s",
    "strings.fsst_win_frac": "ratio",
    "zstd.wrap_s": "s",
    "tokfilter.build_s": "s",
    "tokfilter.kept_frac": "ratio",
    "codecs.tokens_bytes": "bytes",
    "codecs.doc_id_bytes": "bytes",
    "codecs.source_bytes": "bytes",
}

# timed once per traced run, after the passes: layers no pass reaches
SALTED = {
    "salted.span_s": "s",
    "salted.plan_s": "s",
    "salted.tasks_s": "s",
    "salted.commit_s": "s",
    "salted.max_bucket_token_share": "ratio",
    "salted.shuffle_write_bytes": "bytes",
    "salted.ratio_vs_parquet_zstd": "x",
}

CORPUS_QUERIES = ["dedup_exact", "text_doc_stats", "text_vocab_topk", "pack_sequences"]

PER_LAYER = {
    "plans.get_spark_s": "s",
    "sources.write_token_table_s": "s",
    "setup.warm_s": "s",
    "encode.span_s": "s",
    "encode.plan_s": "s",
    "encode.tasks_s": "s",
    "encode.commit_s": "s",
    "encode.n_parts": "count",
    "store.manifest_bytes": "bytes",
    "store.sidecar_bytes": "bytes",
    **{name: unit for name, (_, unit) in SPARK.items()},
    "spark.cores_busy_frac": "ratio",
    **REPLAY,
    **{f"read.{op}_s": "s" for op in READ_OPS},
    **{f"read.{op}_chunks_read": "count" for op in PRUNED_READ_OPS},
    **{f"read.{op}_rows": "count" for op in PRUNED_READ_OPS},
    "read.manifest_s": "s",
    "read.files_kept": "count",
    **SALTED,
    **{f"query.{q}.{part}_s": "s" for q in CORPUS_QUERIES for part in ("build", "exec")},
    "verify.decode_verify_s": "s",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.n_spans": "count",
    "check.ops_failed_frac": "ratio",
}


def op_id(op: str, pass_no: int) -> str:
    return f"{op}#{pass_no}"


def split_op_id(op_key: str) -> tuple[str, int | None]:
    name, sep, n = op_key.rpartition("#")
    return (name, int(n)) if sep and n.isdigit() else (op_key, None)


def spark_layer(events: dict[str, dict], op_spans: list[tuple[str, float, float]], cores: int) -> dict:
    """Executor metrics per pass (mean over the traced passes), summed over
    the ops of a pass. ``op_spans`` lists (op id, start, end) of the timed
    ops; an op that runs more than once in a pass shares its id."""
    per_pass: dict[int, dict] = {}
    task_wall = span_total = 0.0
    timed = {key for key, _, _ in op_spans}
    for key, ev in events.items():
        _, pass_no = split_op_id(key)
        if pass_no is None or key not in timed:
            continue
        acc = per_pass.setdefault(pass_no, {k: 0.0 for k, _ in SPARK.values()})
        for field in acc:
            acc[field] += ev[field]
        task_wall += ev["task_wall_s"]
    for _, start, end in op_spans:
        span_total += end - start
    out = {}
    for name, (field, _) in SPARK.items():
        vals = [p[field] for p in per_pass.values()]
        v = mean(vals) if vals else 0.0
        out[name] = v / 1000.0 if field == "python_run_ms" else v
    out["spark.cores_busy_frac"] = task_wall / (span_total * cores) if span_total else 0.0
    return out


def encode_split(
    events: dict[str, dict], op_spans: list[tuple[str, float, float]],
    op: str = "encode", prefix: str = "encode",
) -> dict:
    """Split each traced ``op`` span at its first job start and last job
    end: plan + tasks + commit equals the span by construction."""
    spans, plans, tasks, commits = [], [], [], []
    for key, start, end in op_spans:
        name, _ = split_op_id(key)
        ev = events.get(key)
        if name != op or ev is None or ev["first_job_start"] is None:
            continue
        spans.append(end - start)
        plans.append(ev["first_job_start"] - start)
        tasks.append(ev["last_job_end"] - ev["first_job_start"])
        commits.append(end - ev["last_job_end"])
    if not spans:
        return {}
    return {
        f"{prefix}.span_s": mean(spans),
        f"{prefix}.plan_s": mean(plans),
        f"{prefix}.tasks_s": mean(tasks),
        f"{prefix}.commit_s": mean(commits),
    }


def salted_layer(
    events: dict[str, dict], op_spans: list[tuple[str, float, float]], result: dict | None
) -> dict:
    """The archive encode's span split, shuffle bytes and bucket skew."""
    if result is None:
        return {}
    keys = [key for key, _, _ in op_spans if split_op_id(key)[0] == "salted_encode" and key in events]
    out = encode_split(events, op_spans, op="salted_encode", prefix="salted")
    out["salted.max_bucket_token_share"] = result["max_bucket_token_share"]
    out["salted.ratio_vs_parquet_zstd"] = result["ratio_vs_parquet_zstd"]
    if keys:
        out["salted.shuffle_write_bytes"] = mean([events[k]["shuffle_write_bytes"] for k in keys])
    return out


def query_layer(took: dict[str, list[float]]) -> dict:
    """Median build and exec seconds of each corpus query."""
    out = {}
    for q in CORPUS_QUERIES:
        for part in ("build", "exec"):
            vals = took.get(f"query.{q}.{part}")
            if vals:
                out[f"query.{q}.{part}_s"] = median(vals)
    return out


def read_layer(events: dict[str, dict], samples: dict[str, list[float]], rows: dict[str, int]) -> dict:
    out = {}
    for op in READ_OPS:
        if samples.get(op):
            out[f"read.{op}_s"] = median(samples[op])
    for op in PRUNED_READ_OPS:
        recs = [ev["input_records"] for key, ev in events.items() if split_op_id(key)[0] == op]
        if recs:
            out[f"read.{op}_chunks_read"] = mean(recs)
        if op in rows:
            out[f"read.{op}_rows"] = rows[op]
    return out


def store_layer(out_dir: str) -> dict:
    """Layout facts of an encoded table: parts, manifest and sidecar bytes."""
    from poc_parquet_aggregator_spark.encode import read_manifest

    from .workloads import dir_bytes

    if not os.path.isdir(out_dir):
        return {}
    recs = read_manifest(out_dir).values()
    return {
        "encode.n_parts": sum(r.get("n_parts", 0) for r in recs),
        "store.manifest_bytes": dir_bytes(os.path.join(out_dir, "_manifest")),
        "store.sidecar_bytes": dir_bytes(os.path.join(out_dir, "_tokfilters")),
    }
