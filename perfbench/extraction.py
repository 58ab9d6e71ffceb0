"""``extract_pages`` workload: one ``plans.pipeline.run_extraction`` job per
repetition over document rows with claims plus heavy HTML pages.

Untraced, each repetition is the product path as users call it.  The
traced run splits a repetition into layers by timing the public entry
points from outside:

- ``plans.pipeline.scan_shuffle_s``: noop sink of ``extraction_plan``
  with the Python UDF swapped for a JVM struct that reads the same
  payload columns, so scan, bucket/salt, range shuffle and the claims
  join still move the raw text and HTML;
- ``operators.extract.udf_stage_s``: noop sink of the full plan, minus
  the layer above;
- ``plans.pipeline.write_commit_s``: ``run_extraction`` wall minus the
  full-plan noop.

The three add up to the traced ``run_extraction`` wall by construction.
Kernel, boundary and Arrow conversion times are measured single-core on
the driver over the workload's own rows in Arrow-batch-sized chunks.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from unittest import mock

from perfbench import inputs
from perfbench.eventlog import job_group
from perfbench.spans import self_times

N_BUCKETS = 16
N_SALTS = 8
ARROW_BATCH_ROWS = 2048  # spark.sql.execution.arrow.maxRecordsPerBatch in plans.session
TRACE_REPS = 2
SINK_REPS = 5
RESUME_BUCKETS_PER_COMMIT = 2
UDF_ARGS = [
    "text", "html", "doc_type", "name", "father_name", "dob", "pan",
    "adharno", "address", "ifsc", "micr", "account_number",
]


def _data_files(out_dir: str) -> list[str]:
    from ocr_api_spark.plans.pipeline import _data_files

    return sorted(_data_files(os.path.join(out_dir, "extracted")))


def output_table(out_dir: str) -> "object":
    """Every output row as one Arrow table, url-sorted, bucket/salt
    excluded: two runs' outputs are the same when their tables are equal."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.concat_tables(pq.read_table(f) for f in _data_files(out_dir))
    cols = [c for c in table.column_names if c not in ("salt", "bucket")]
    return table.sort_by("url").select(cols).combine_chunks()


class Workload:
    name = "extract_pages"
    warmup_jobs = 2  # JIT and Python worker pool: jobs keep speeding up over the first few
    min_jobs = 3
    # traced job groups that run the Python UDF and must report its metrics
    python_groups = {f"run:{r}" for r in range(TRACE_REPS)}

    def __init__(self, cache_dir: str, run_dir: str, seed: int):
        self.run_dir = run_dir
        self.in_dir = inputs.pages(cache_dir, seed)
        with open(os.path.join(self.in_dir, "expected.json")) as f:
            self.expected = json.load(f)
        self.rows = self.expected["rows"]
        self.pages = os.path.join(self.in_dir, "pages.parquet")
        self.claims = os.path.join(self.in_dir, "claims.parquet")
        self.spark = self.tracer = None  # set by run.py
        self._n = 0
        self.first_out = None
        self.first_table = None
        self.last_out = None

    # --- one repetition -------------------------------------------------

    def _fresh_out(self) -> str:
        self._n += 1
        return os.path.join(self.run_dir, "out", f"extract-{self._n}")

    def job(self) -> dict:
        from ocr_api_spark.plans.pipeline import run_extraction

        out = self._fresh_out()
        stats = run_extraction(
            self.spark, self.pages, self.claims, out, n_buckets=N_BUCKETS, n_salts=N_SALTS
        )
        return {"out": out, "rows": stats["rows"]}

    def after_job(self, res: dict) -> bool:
        """Outside the timed window: compare the output with the first,
        keep the first output for the gate and the latest for the sink
        timing, drop the rest.  Returns False when the output differs
        from the first."""
        table = output_table(res["out"])
        ok = res["rows"] == self.rows
        if self.first_out is None:
            self.first_out, self.first_table = res["out"], table
        else:
            ok = ok and table.equals(self.first_table)
            if self.last_out is not None:
                shutil.rmtree(self.last_out, ignore_errors=True)
            self.last_out = res["out"]
        return ok

    # --- correctness gate -----------------------------------------------

    def verify(self) -> list[str]:
        """Full gate on the first output; later outputs are tied to it by
        equality in ``after_job``."""
        import pandas as pd

        problems = []
        got = self.first_table.select(["url", "extracted_text", "doc_type", "status"]).to_pandas()
        golden = pd.read_parquet(os.path.join(self.in_dir, "golden.parquet"))
        if len(got) != self.rows or got["url"].nunique() != self.rows:
            problems.append(f"output has {len(got)} rows / {got['url'].nunique()} urls, want {self.rows}")
        merged = golden.merge(got, on="url", how="left", suffixes=("_golden", ""))
        mismatched = int((merged["extracted_text"] != merged["extracted_text_golden"]).sum())
        if mismatched:
            problems.append(f"{mismatched} rows differ from golden extracted_text")
        key = got["doc_type"].where(got["doc_type"].notna(), "<none>")
        counts = got.groupby([key.values, got["status"].values]).size()
        status_counts = {f"{d}|{s}": int(n) for (d, s), n in counts.items()}
        if status_counts != self.expected["status_counts"]:
            problems.append(
                f"status counts {status_counts} != driver extract_batch {self.expected['status_counts']}"
            )
        web = set(golden.loc[golden["doc_type"] == "web", "url"])
        self.row_counts = {
            "rows.failed": int((got["status"] == "Failed").sum()),
            "rows.html_resolved": int(
                (got["url"].isin(web) & got["extracted_text"].notna()).sum()
            ),
        }
        return problems

    # --- traced layer split ---------------------------------------------

    def _plan(self, udf_free: bool):
        from pyspark.sql import functions as F

        from ocr_api_spark.operators.extract import FULL_SCHEMA
        from ocr_api_spark.plans import pipeline

        pages = self.spark.read.parquet(self.pages)
        claims = self.spark.read.parquet(self.claims)
        n_parts = self.spark.sparkContext.defaultParallelism * 2
        if not udf_free:
            return pipeline.extraction_plan(pages, claims, N_BUCKETS, N_SALTS, n_parts=n_parts)

        def stand_in(text, html, *_claims):
            # same struct shape, built in the JVM from the same payload
            # columns, so the shuffle still carries text and html
            resolved = F.coalesce(F.nullif(text, F.lit("")), html.cast("string"))
            rest = [F.lit(None).cast(f.dataType).alias(f.name) for f in FULL_SCHEMA.fields[1:]]
            return F.struct(resolved.alias("extracted_text"), *rest)

        with mock.patch.object(pipeline, "fused_extract_udf", stand_in):
            return pipeline.extraction_plan(pages, claims, N_BUCKETS, N_SALTS, n_parts=n_parts)

    def traced(self, tracer, ops) -> dict:
        """Layer split, sink commit, the resume scenario and driver-side
        kernels.  Jobs run through ``ops``, which counts their failures.
        Returns per-layer metrics."""
        sc = self.spark.sparkContext
        for r in range(TRACE_REPS):
            with tracer.span("rep"):
                for key, span, udf_free in (("scan", "plans.pipeline.scan_shuffle", True),
                                            ("full", "operators.extract.full_plan", False)):
                    plan = self._plan(udf_free)
                    with job_group(sc, f"{key}:{r}"), tracer.span(span):
                        plan.write.format("noop").mode("overwrite").save()
                with job_group(sc, f"run:{r}"), tracer.span("plans.pipeline.run_extraction"):
                    res = ops.call(self.job)
            if res is not None and not self.after_job(res):
                ops.fail("traced run_extraction output differs from the first output")

        scan, full, run = (
            statistics.median(tracer.durations(name))
            for name in ("plans.pipeline.scan_shuffle", "operators.extract.full_plan",
                         "plans.pipeline.run_extraction")
        )
        m = {
            "plans.pipeline.scan_shuffle_s": scan,
            "operators.extract.udf_stage_s": full - scan,
            "plans.pipeline.write_commit_s": run - full,
            "trace.docs_per_s": self.rows / run,
        }
        files = _data_files(self.last_out)
        m["plans.pipeline.files_written"] = len(files)
        m["plans.pipeline.bytes_written"] = sum(os.path.getsize(f) for f in files)
        m.update(self._sink(tracer))
        m.update(self._resume(tracer, ops))
        m.update(self._kernels(tracer))
        return m

    def _sink(self, tracer) -> dict:
        """write_snapshot + metrics/lineage appends on copies of the last
        run's output (the commit bookkeeping, without the write)."""
        from ocr_api_spark.plans.pipeline import _append_table, _bucket_stats, _data_files
        from ocr_api_spark.plans.sink import write_snapshot

        for i in range(SINK_REPS):
            copy = os.path.join(self.run_dir, "out", f"sink-copy-{i}")
            shutil.copytree(os.path.join(self.last_out, "extracted"), os.path.join(copy, "extracted"))
            new_files = _data_files(os.path.join(copy, "extracted"))
            with tracer.span("plans.pipeline.bucket_stats"):
                rows = _bucket_stats(new_files, 1.0)
            with tracer.span("plans.sink.commit"):
                _append_table(
                    os.path.join(copy, "metrics"),
                    {
                        "bucket": [r[0] for r in rows],
                        "rows_out": [r[1] for r in rows],
                        "rows_failed": [r[2] for r in rows],
                        "wall_s": [r[3] for r in rows],
                        "attempt_ts": [time.time()] * len(rows),
                    },
                )
                write_snapshot(copy, new_files, rows)
                _append_table(os.path.join(copy, "lineage"), {"bucket": sorted(r[0] for r in rows)})
            shutil.rmtree(copy, ignore_errors=True)
        return {
            "plans.pipeline.bucket_stats_s": statistics.median(
                tracer.durations("plans.pipeline.bucket_stats")),
            "plans.sink.commit_s": statistics.median(tracer.durations("plans.sink.commit")),
        }

    def _resume(self, tracer, ops) -> dict:
        """Half the buckets committed up front (untimed), the rest finished
        by ``run_extraction_chunked`` in small groups."""
        from ocr_api_spark.plans.pipeline import (
            read_completed_buckets,
            run_extraction,
            run_extraction_chunked,
        )

        out = self._fresh_out()
        sc = self.spark.sparkContext
        with job_group(sc, "resume_precommit"), tracer.span("resume.precommit"):
            ops.call(lambda: run_extraction(
                self.spark, self.pages, self.claims, out, n_buckets=N_BUCKETS, n_salts=N_SALTS,
                buckets=list(range(N_BUCKETS // 2)),
            ))
        skipped = len(read_completed_buckets(self.spark, out))
        with job_group(sc, "resume"), tracer.span("resume.chunked"):
            totals = ops.call(lambda: run_extraction_chunked(
                self.spark, self.pages, self.claims, out, n_buckets=N_BUCKETS,
                buckets_per_commit=RESUME_BUCKETS_PER_COMMIT, n_salts=N_SALTS,
            ))
        if totals is not None and not output_table(out).equals(self.first_table):
            ops.fail("resumed output differs from the single-job output")
        shutil.rmtree(out, ignore_errors=True)
        return {
            "resume.wall_s": tracer.durations("resume.chunked")[0],
            "resume.groups_run": (totals or {}).get("groups_run", 0),
            "resume.buckets_skipped": skipped,
        }

    def _kernels(self, tracer) -> dict:
        """Single core on the driver, per Arrow batch: the worker
        serializer's Arrow -> pandas, the fused UDF's Python function and
        pandas -> Arrow.  The three kernels the fused function calls are
        wrapped in spans while it runs, so the boundary cost (pandas
        assembly, ``to_dict``) is the fused span's self time."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
        from pyspark.sql.pandas.types import to_arrow_type

        from ocr_api_spark.operators import extract

        pages = pq.read_table(self.pages).to_pandas()
        claims = pq.read_table(self.claims).to_pandas()
        rows = pages.merge(claims, on="url", how="left")
        # the plan sends html only where text is empty
        rows["html"] = rows["html"].where(rows["text"].isna() | (rows["text"] == ""), None)
        table = pa.Table.from_pandas(rows[UDF_ARGS], preserve_index=False)
        # the serializer the Python worker builds for a scalar pandas UDF
        ser = ArrowStreamPandasUDFSerializer("UTC", False, True, True, "dict", False, True, None)
        out_type = to_arrow_type(extract.FULL_SCHEMA)

        def traced_call(span, fn):
            def call(*args):
                with tracer.span(span):
                    return fn(*args)
            return call

        kernels = {
            "_payload_to_text": "kernels.boilerplate",
            "extract_batch": "kernels.extract",
            "match_batch": "kernels.match",
        }
        patches = {name: traced_call(span, getattr(extract, name)) for name, span in kernels.items()}
        with tracer.span("kernels"), mock.patch.multiple(extract, **patches):
            for batch in table.to_batches(max_chunksize=ARROW_BATCH_ROWS):
                with tracer.span("operators.extract.arrow_to_pandas"):
                    series = [ser.arrow_to_pandas(c, i) for i, c in enumerate(batch.columns)]
                with tracer.span("operators.extract.fused_udf"):
                    out = extract.fused_extract_udf.func(*series)
                with tracer.span("operators.extract.pandas_to_arrow"):
                    ser._create_batch([(out, out_type, extract.FULL_SCHEMA)])

        m = {f"{span}_s": sum(tracer.durations(span)) for span in kernels.values()}
        m["operators.extract.boundary_s"] = self_times(tracer.spans)["operators.extract.fused_udf"]
        m["operators.extract.arrow_convert_s"] = sum(
            tracer.durations("operators.extract.arrow_to_pandas")
            + tracer.durations("operators.extract.pandas_to_arrow")
        )
        return m
