"""The benchmark's three workloads and their output checks.

Each workload is a fixed list of ops. An op runs in two timed parts:
``build`` (the call into the program that returns a plan, including any
eager driver-side work) and ``act`` (the action that runs it). ``check``
runs outside both parts and returns a problem description or None.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trips_gen import TripsYear, generate_year

#: executor-side joins, aggregates, windows and shuffles; the model memos,
#: Python workers and ANN store are not on these ops' paths
TPCH_EVENTS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q21_waiting_suppliers",
    "window_running_sum",
    "events_user_rfm",
)
#: eager model builds behind the in-process memos and the on-disk model
#: cache, ops that launch many small jobs, and the ANN snapshot store's
#: build and append generations
LLM_CORPUS = (
    "text_bpe_learn_merges",
    "dedup_cluster_components",
    "prep_decontaminate_bloom",
    "sim_index_build",
    "sim_index_append",
)
TRIPS_OP = "run_trips_pipeline"
WORKLOADS = {
    "tpch_events": TPCH_EVENTS,
    "llm_corpus": LLM_CORPUS,
    "trips_ingest": (TRIPS_OP,),
}
#: rows per generated month before duplicates (months vary by +-15%)
TRIPS_ROWS_PER_MONTH = 4_000
EXPECTED_PATH = Path(__file__).with_name("expected.json")


def digest(df: DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive digest) from one Spark aggregate:
    the sum of each row's xxhash64 over its columns in name order."""
    cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
    row = (
        df.select(F.xxhash64(*cols).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        )
        .first()
    )
    return int(row["n"]), str(row["s"] or 0)


class QueryWorkload:
    """Registry ops over the sf0.1 tables; each ends in the noop sink."""

    #: a digest re-runs the op's plan, so warm passes are not checked
    check_every_pass = False

    def __init__(self, spark: SparkSession, ops: tuple[str, ...], sf_dir: str):
        from data_engineering_zoomcamp_projects_spark.registry import all_queries

        queries = all_queries()
        self.spark = spark
        self.ops = ops
        self.sf_dir = sf_dir
        self.fns = {op: queries[op] for op in ops}
        self.expected = json.loads(EXPECTED_PATH.read_text())["ops"]

    def build(self, op: str, tag: str) -> DataFrame:
        return self.fns[op](self.spark, self.sf_dir)

    def act(self, op: str, built: DataFrame) -> None:
        built.write.format("noop").mode("overwrite").save()

    def check(self, op: str, built: DataFrame, acted: None) -> str | None:
        want = self.expected[op]
        rows, got = digest(built)
        if rows != want["rows"]:
            return f"{op}: {rows} rows, expected {want['rows']}"
        if want["digest"] is not None and got != want["digest"]:
            return f"{op}: digest {got}, expected {want['digest']}"
        return None

    def release(self, op: str, built, acted) -> None:
        pass


class TripsWorkload:
    """One generated Citibike year through ``run_trips_pipeline``, each
    call into a fresh output directory."""

    ops = (TRIPS_OP,)
    #: a call's check reads back only the table it wrote
    check_every_pass = True

    def __init__(self, spark: SparkSession, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.year: TripsYear = generate_year(work / "trips_in", seed, TRIPS_ROWS_PER_MONTH)
        #: call tag -> ingest-layer figures of that call
        self.ingest: dict[str, dict[str, float]] = {}

    def build(self, op: str, tag: str) -> str:
        return tag

    def act(self, op: str, tag: str):
        from data_engineering_zoomcamp_projects_spark.ingest.pipeline import run_trips_pipeline

        return run_trips_pipeline(
            self.spark,
            self.year.csv_paths,
            str(self.work / "trips_out" / tag),
            archives=self.year.zip_paths,
            scratch_dir=str(self.work / "trips_scratch" / tag),
        )

    def check(self, op: str, tag: str, result) -> str | None:
        y = self.year
        files = [
            p
            for p in Path(result.out_path).rglob("*")
            if p.is_file() and not p.name.startswith((".", "_"))
        ]
        written = sum(p.stat().st_size for p in files)
        self.ingest[tag] = {
            "extract_s": result.timings.get("extract", 0.0),
            "scan_clean_s": result.timings["scan_clean"],
            "write_s": result.timings["write"],
            "verify_s": result.timings["verify"],
            "files_written": float(len(files)),
            "bytes_written": float(written),
            "stored_bytes_ratio": written / y.input_bytes,
        }
        if (result.n_rows, result.n_months) != (y.expected_rows, y.expected_months):
            return (
                f"pipeline reported {result.n_rows} rows / {result.n_months} months, "
                f"expected {y.expected_rows} / {y.expected_months}"
            )
        row = (
            self.spark.read.parquet(result.out_path)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("ride_id").alias("ids"),
                F.countDistinct("month").alias("months"),
                F.sum(F.crc32(F.col("ride_id"))).alias("crc"),
                F.sum(F.round(F.col("duration_min") * 60).cast("long")).alias("dur"),
            )
            .first()
        )
        got = (row["n"], row["ids"], row["months"], row["crc"], row["dur"])
        want = (
            y.expected_rows,
            y.expected_rows,
            y.expected_months,
            y.expected_ride_crc_sum,
            y.expected_duration_s_sum,
        )
        if got != want:
            return f"written table (rows, ids, months, crc, duration) {got}, expected {want}"
        return None

    def release(self, op: str, tag: str, result) -> None:
        shutil.rmtree(self.work / "trips_out" / tag, ignore_errors=True)
        shutil.rmtree(self.work / "trips_scratch" / tag, ignore_errors=True)
