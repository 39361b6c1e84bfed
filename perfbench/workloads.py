"""The benchmark's workloads: what each sets up, times and checks.

Every workload generates its token table with
``sources.write_token_table(seed=<--seed>)`` inside the run's work
directory. One pass is a fixed list of operations; each operation is timed
around the call into the program only, and its output is checked afterwards
(untimed). A wrong output counts as a failed operation.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import traceback
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq


class CheckFailed(Exception):
    """An operation returned a wrong result."""


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@dataclass
class Op:
    """One timed operation of a pass. ``call`` is timed; ``before`` and
    ``check`` run untimed around it."""

    name: str
    call: Callable[[], object]
    check: Callable[[object], None] = lambda _: None
    before: Callable[[], None] | None = None


@dataclass
class Inputs:
    """A generated token table and the facts the checks compare against."""

    path: str
    seed: int
    n_docs: int
    n_tokens: int
    expect: dict = field(default_factory=dict)


def token_table_facts(path: str, seed: int) -> Inputs:
    """Row and token counts straight from the raw input files."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    n_docs = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    n_tok = pq.read_table(files, columns=["n_tok"]).column("n_tok")
    return Inputs(path=path, seed=seed, n_docs=n_docs, n_tokens=int(pc.sum(n_tok).as_py()))


def _manifest_xor(out_dir: str) -> int:
    from poc_parquet_aggregator_spark.encode import read_manifest

    x = 0
    for rec in read_manifest(out_dir).values():
        x ^= rec.get("checksum", 0)
    return x


def warm_call(fn) -> None:
    """A warm-up call: its failure is logged, not raised; the timed passes
    run the same call again and count the failure there."""
    try:
        fn()
    except Exception:
        print("perfbench: warm-up call failed:\n" + traceback.format_exc(), file=sys.stderr)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    """``main_op`` is the op whose median sets ``tokens_per_s``.
    ``warm_passes`` untimed passes follow each warm-up; the timed window
    holds at least ``min_passes`` passes. With
    ``fresh_session_after_prepare``, set-up restarts the session between
    ``prepare`` and the warm-up."""

    name: str
    why: str
    main_op: str
    n_docs: int
    docs_per_file = 2_000
    zstd_level = 3
    warm_passes = 1
    min_passes = 3
    fresh_session_after_prepare = False

    def __init__(self, work: str) -> None:
        self.work = work
        self.encode_result: dict | None = None
        self.salted_result: dict | None = None
        self.first_xor: dict[str, int] = {}

    def out_dir(self) -> str:
        return os.path.join(self.work, "encoded")

    def check_deterministic(self, out: str) -> None:
        """Encode is deterministic: each rep's manifest xor-checksum must
        equal the first rep's."""
        xor = _manifest_xor(out)
        first = self.first_xor.setdefault(out, xor)
        _expect(xor == first, f"manifest xor-checksum {xor} differs from first rep {first}")

    def prepare(self, spark, tracer, inputs: Inputs) -> None:
        """Set-up after the table is generated."""

    def warm(self, spark, tracer, inputs: Inputs) -> None:
        """Calls that let Python worker spawn finish before timing."""

    def pass_ops(self, spark, inputs: Inputs) -> list[Op]:
        raise NotImplementedError

    def ratio(self) -> float:
        return self.encode_result["ratio_vs_parquet_zstd"]

    def final_checks(self, spark, tracer, inputs: Inputs) -> list[Op]:
        return []

    def layer_ops(self, spark, inputs: Inputs) -> list[Op]:
        """Ops a traced run times after its passes, for layers no pass
        reaches. Each op name appears ``LAYER_REPS`` times; the first
        occurrence warms up and is not reported."""
        return []


class IngestFast(Workload):
    """One ``encode_dataset`` per pass into a fresh output directory."""

    name = "ingest_fast"
    why = (
        "encode_dataset per-file at zstd 3, where string codecs, the FSST "
        "trial, the Arrow boundary and the commit path are the largest share"
    )
    main_op = "encode"
    n_docs = 32_000
    # eight files; with 2,000-doc files per-task overhead was a larger
    # share and the encode ~10% slower
    docs_per_file = 4_000
    # the encode keeps speeding up over its first few calls in a session
    # (JIT, heap sizing): time it on the plateau
    warm_passes = 6

    def _encode(self, spark, src, out):
        from poc_parquet_aggregator_spark.encode import encode_dataset

        return encode_dataset(spark, src, out, zstd_level=self.zstd_level)

    def warm(self, spark, tracer, inputs):
        # the whole table: every task slot spawns its Python worker
        warm_dir = os.path.join(self.work, "warm_out")
        shutil.rmtree(warm_dir, ignore_errors=True)
        with tracer.span("setup.warm"):
            warm_call(lambda: self._encode(spark, inputs.path, warm_dir))
        shutil.rmtree(warm_dir, ignore_errors=True)

    def pass_ops(self, spark, inputs):
        out = self.out_dir()

        def check(res):
            _expect(res["n_docs"] == inputs.n_docs, f"encoded {res['n_docs']} docs, input has {inputs.n_docs}")
            _expect(res["n_tokens"] == inputs.n_tokens, f"encoded {res['n_tokens']} tokens, input has {inputs.n_tokens}")
            self.check_deterministic(out)
            self.encode_result = res

        return [
            Op(
                "encode",
                call=lambda: self._encode(spark, inputs.path, out),
                check=check,
                before=lambda: shutil.rmtree(out, ignore_errors=True),
            )
        ]

    def final_checks(self, spark, tracer, inputs):
        from poc_parquet_aggregator_spark.encode import decode_verify

        def check(res):
            _expect(bool(res["bit_identical"]), f"decode_verify: {res}")

        return [Op("decode_verify", call=lambda: decode_verify(spark, inputs.path, self.out_dir()), check=check)]

    def layer_ops(self, spark, inputs):
        """The archive path: ``encode_dataset_by_source`` with 8 salts at
        zstd 19 (the only encode with a shuffle and the bucket commit),
        checked like the fast encode and decode-verified once."""
        from poc_parquet_aggregator_spark.encode import decode_verify, encode_dataset_by_source

        out = os.path.join(self.work, "salted")

        def check(res):
            _expect(res["n_docs"] == inputs.n_docs, f"salted encode kept {res['n_docs']} docs of {inputs.n_docs}")
            _expect(res["n_tokens"] == inputs.n_tokens, f"salted encode kept {res['n_tokens']} tokens of {inputs.n_tokens}")
            self.check_deterministic(out)
            self.salted_result = res

        def check_verify(res):
            _expect(bool(res["bit_identical"]), f"salted decode_verify: {res}")

        encode = Op(
            "salted_encode",
            call=lambda: encode_dataset_by_source(
                spark, inputs.path, out, n_salts=SALTS, zstd_level=ARCHIVE_ZSTD
            ),
            check=check,
            before=lambda: shutil.rmtree(out, ignore_errors=True),
        )
        verify = Op("salted_verify", call=lambda: decode_verify(spark, inputs.path, out), check=check_verify)
        return [encode] * LAYER_REPS + [verify]


# each layer op of a traced run: one warm-up, then the reported call
LAYER_REPS = 2
SALTS = 8
ARCHIVE_ZSTD = 19

WARM_SCANS = 6
CORPUS_DOCS = 2_000

# token ids for the content reads: 60000 lies outside the 50257-id vocab,
# the others sit in the Zipf tail, so each matches a few dozen docs
ABSENT_ID = 60_000
RARE_ID = 50_233
ID_LIST = [50_233, 49_000, 45_000]


class ReadMix(Workload):
    name = "read_mix"
    why = (
        "a fixed mix of full, pruned and token-content reads over a table "
        "encoded once in set-up; only decode, pruning and manifest code run"
    )
    main_op = "full_scan"
    n_docs = 16_000
    # with one warm pass the window's first full scans were still ~10%
    # slower than its last: the JVM keeps compiling the decode path
    warm_passes = 2
    min_passes = 2
    # Python workers that ran the pre-encode decode ~35% slower, and less
    # steadily, than fresh ones: the reads run in a session of their own
    fresh_session_after_prepare = True

    def prepare(self, spark, tracer, inputs):
        from poc_parquet_aggregator_spark.encode import encode_dataset

        out = self.out_dir()
        shutil.rmtree(out, ignore_errors=True)
        with tracer.span("setup.pre_encode"):
            self.encode_result = encode_dataset(spark, inputs.path, out, zstd_level=self.zstd_level)
        inputs.expect.update(self._expectations(inputs))

    def _expectations(self, inputs) -> dict:
        """Every read's answer, computed from the raw input with pyarrow."""
        files = sorted(glob.glob(os.path.join(inputs.path, "*.parquet")))
        t = pq.read_table(files)
        doc_id = np.asarray(t.column("doc_id").to_pylist(), dtype=object)
        n_tok = t.column("n_tok").to_numpy()
        source = np.asarray(t.column("source").to_pylist(), dtype=object)
        tokens = t.column("tokens").combine_chunks()
        flat = tokens.flatten().to_numpy()
        owner = np.repeat(np.arange(len(n_tok)), n_tok)

        def docs_with(ids) -> int:
            return len(np.unique(owner[np.isin(flat, ids)]))

        rng = np.random.default_rng(inputs.seed)
        point_ids = sorted(doc_id[rng.choice(len(doc_id), size=10, replace=False)].tolist())
        order = np.sort(doc_id)
        lo_i = int(rng.integers(0, len(order) // 2))
        id_range = (order[lo_i], order[lo_i + len(order) // 8])
        tok_range = (600, 700)
        src_sum = {}
        for s, n in zip(source.tolist(), n_tok.tolist()):
            src_sum[s] = src_sum.get(s, 0) + n
        return {
            "source_sums": src_sum,
            "point_ids": point_ids,
            "id_range": id_range,
            "id_range_rows": int(((doc_id >= id_range[0]) & (doc_id <= id_range[1])).sum()),
            "tok_range": tok_range,
            "tok_range_rows": int(((n_tok >= tok_range[0]) & (n_tok <= tok_range[1])).sum()),
            "rare_rows": docs_with([RARE_ID]),
            "list_rows": docs_with(ID_LIST),
        }

    def warm(self, spark, tracer, inputs):
        # the full scan: every task slot spawns its Python worker on the
        # first, and the JVM is still compiling the decode path over the
        # next ones
        scan = self.pass_ops(spark, inputs)[0].call
        with tracer.span("setup.warm"):
            for _ in range(WARM_SCANS):
                warm_call(scan)

    def pass_ops(self, spark, inputs):
        from pyspark.sql import functions as F

        from poc_parquet_aggregator_spark.encode import read_decoded

        out, ex = self.out_dir(), inputs.expect

        def rows_equal(want):
            def check(got):
                _expect(got == want, f"{got} rows, expected {want}")
            return check

        def check_sums(rows):
            got = {r["source"]: r["n"] for r in rows}
            _expect(got == ex["source_sums"], "per-source n_tok sums differ from the input")

        def check_points(rows):
            got = sorted(r["doc_id"] for r in rows)
            _expect(got == ex["point_ids"], f"point lookup returned {got}")

        full_scan = Op(
            "full_scan",
            lambda: read_decoded(spark, out).write.format("noop").mode("overwrite").save(),
        )
        # tokens_per_s rests on the full scan alone, so a pass samples it
        # three times (start, middle, end) and the median pools them
        return [
            full_scan,
            Op(
                "source_agg",
                lambda: read_decoded(spark, out, columns=["source", "n_tok"])
                .groupBy("source").agg(F.sum("n_tok").alias("n")).collect(),
                check_sums,
            ),
            Op(
                "doc_ids",
                lambda: read_decoded(spark, out, doc_ids=ex["point_ids"]).select("doc_id").collect(),
                check_points,
            ),
            Op(
                "doc_id_range",
                lambda: read_decoded(spark, out, doc_id_range=ex["id_range"]).count(),
                rows_equal(ex["id_range_rows"]),
            ),
            full_scan,
            Op(
                "n_tok_range",
                lambda: read_decoded(spark, out, n_tok_range=ex["tok_range"]).count(),
                rows_equal(ex["tok_range_rows"]),
            ),
            Op(
                "contains_absent",
                lambda: read_decoded(spark, out, contains_token=ABSENT_ID).count(),
                rows_equal(0),
            ),
            Op(
                "contains_rare",
                lambda: read_decoded(spark, out, contains_token=RARE_ID).count(),
                rows_equal(ex["rare_rows"]),
            ),
            Op(
                "contains_list",
                lambda: read_decoded(spark, out, contains_token=ID_LIST).count(),
                rows_equal(ex["list_rows"]),
            ),
            full_scan,
        ]

    def final_checks(self, spark, tracer, inputs):
        """The full scan's output is discarded by the noop sink, so its
        content is checked once here: doc, n_tok and token totals."""
        from pyspark.sql import functions as F

        from poc_parquet_aggregator_spark.encode import read_decoded

        def call():
            return read_decoded(spark, self.out_dir()).agg(
                F.count("*").alias("docs"),
                F.sum("n_tok").alias("n_tok"),
                F.sum(F.size("tokens")).alias("tokens"),
            ).collect()[0]

        def check(row):
            want = (inputs.n_docs, inputs.n_tokens, inputs.n_tokens)
            got = (row["docs"], row["n_tok"], row["tokens"])
            _expect(got == want, f"full scan totals {got}, expected {want}")

        return [Op("scan_totals", call, check)]

    def layer_ops(self, spark, inputs):
        """The operators layer: a few corpus queries on a document corpus
        generated from the seed. Each query is built (``QUERIES[name]``,
        which includes any eager driver work) after the frame memo is
        purged, then forced with ``collect``; its rows must equal its
        DuckDB oracle's, compared untimed."""
        import duckdb

        from poc_parquet_aggregator_spark.operators import ORACLES, QUERIES
        from poc_parquet_aggregator_spark.operators.cache import purge_frame_memo
        from poc_parquet_aggregator_spark.sources import write_doc_corpus

        from .layers import CORPUS_QUERIES

        corpus = os.path.join(self.work, "corpus")
        write_doc_corpus(corpus, CORPUS_DOCS, seed=inputs.seed)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
        built: dict = {}

        def build(name):
            def call():
                built[name] = QUERIES[name](spark, corpus)
            return call

        def check(name):
            def run(rows):
                cols = built[name].columns
                res = con.execute(ORACLES[name])
                want_cols = [d[0] for d in res.description]
                _expect(sorted(cols) == sorted(want_cols), f"{name}: columns {cols}, oracle has {want_cols}")
                want = _rowset(res.fetchall(), want_cols)
                got = _rowset([tuple(r) for r in rows], cols)
                _expect(got == want, f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
            return run

        ops = []
        for _ in range(LAYER_REPS):
            for name in CORPUS_QUERIES:
                ops.append(Op(f"query.{name}.build", build(name), before=purge_frame_memo))
                ops.append(Op(f"query.{name}.exec", lambda n=name: built[n].collect(), check(name)))
        return ops



def _cell(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    return f"{v:.17g}" if isinstance(v, float) else str(v)


def _rowset(rows, cols) -> list[tuple]:
    """Rows as sorted tuples of strings, columns in name order (floats
    exact to 17 digits), so Spark and DuckDB results compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


WORKLOADS = {w.name: w for w in (IngestFast, ReadMix)}
