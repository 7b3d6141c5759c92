"""The benchmark's workloads, built from four parts, and their output checks.

Each part drives the package through its public functions from one
thread; one *operation* is one round of a workload's parts, and the
caller waits for every result before starting the next. Every output is checked
exactly against a reference that does not run the package: the planted
truth of the generator, the registered DuckDB oracles, or invariants read
back with pyarrow.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

KPIS = ["q01_avg_fare_by_airline", "q02_booking_count_by_airline",
        "q03_fare_trend", "q04_seasonal_fare_variation", "q05_top_routes"]
CODEC = ["x103_wav_decode_stats", "x116_bmp_resize_stats",
         "x117_frame_sample_stats", "x118_wav_resample_stats",
         "x119_png_decode_stats"]
#: x128 and x133 fold through the same streaming/sketches machinery as
#: x124 and cost ~6 s a pass more; they are left out to keep every run of
#: the benchmark inside its time budget
STREAM = ["x111_stateful_running_totals", "x124_stream_kmv_merge",
          "x127_stream_cms_merge"]

#: flight rows per full load (plus 2% duplicates; the incremental file adds 10%)
FLIGHT_ROWS = 10_000
#: table scale per workload (sf 0.1 = 600k lineitem rows, 5000 documents)
DASH_SF, CURATE_SF, MEDIA_SF = 0.02, 0.02, 0.01

# public functions the traced run wraps in spans: (module, attribute, span)
FLIGHT_SPANS = [
    ("jobs.flight_pipeline", "read_flights_csv", "sources.read_flights_csv"),
    ("operators.star", "ingest_increment", "star.ingest_increment"),
    ("operators.star", "clean_flights", "star.clean_flights"),
    ("operators.star", "build_star_schema", "star.build_star_schema"),
    ("jobs.flight_pipeline", "reconcile", "validation.reconcile"),
]
CURATE_SPANS = [
    ("jobs.corpus_pipeline", "minhash_neardup_pairs", "dedup.minhash_neardup_pairs"),
    ("jobs.corpus_pipeline", "dedup_transitive", "graph.dedup_transitive"),
]


class Checks:
    """Attempted and failed operations; a wrong output is a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, name: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            self.errors.append(f"{name}: {problem}")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


class _OracleFaces:
    """Registered faces checked against their DuckDB oracles.

    The oracle of each face runs once (the expected rows do not change
    between operations) through ``tests/oracle_util``, the comparator the
    repository's own tests use."""

    def __init__(self, data: str):
        from airflow_project_flight_price_analysis_spark.plans import (
            all_oracle_sql, all_queries)
        self.data = data
        self.queries = all_queries()
        self.oracle_sql = all_oracle_sql()
        self._expected: dict[str, tuple] = {}

    def _check(self, name: str, actual) -> str | None:
        from tests import oracle_util
        if name not in self._expected:
            exp = oracle_util.run_oracle(self.oracle_sql[name], self.data)
            oracle_util._assert_no_hugeint(exp, name)
            self._expected[name] = (sorted(exp.columns), oracle_util._normalize(exp))
        cols, rows = self._expected[name]
        if sorted(actual.columns) != cols:
            return f"columns {sorted(actual.columns)} != oracle {cols}"
        got = oracle_util._normalize(actual)
        if got != rows:
            diff = [(a, b) for a, b in zip(got, rows) if a != b][:3]
            return f"{len(got)} rows vs oracle {len(rows)}; first diffs {diff}"
        return None

    def _run_faces(self, spark, tr, chk, faces, layer) -> float | None:
        """Build and fetch each face; summed seconds, or None if one failed."""
        total = 0.0
        for name in faces:
            short = name.split("_")[0]
            try:
                with tr.span(f"{layer}.build.{short}"):
                    df, t_build = _timed(self.queries[name], spark, self.data)
                with tr.span(f"{layer}.exec.{short}") as counts:
                    pdf, t_exec = _timed(df.toPandas)
                    counts["rows"] = len(pdf)
                tr.harvest()
            except Exception as exc:  # noqa: BLE001 — a crash is a failed operation
                chk.record(name, f"{type(exc).__name__}: {exc}")
                total = None
                continue
            problem = self._check(name, pdf)
            chk.record(name, problem)
            if total is not None and problem is None:
                total += t_build + t_exec
            else:
                total = None
        return total


class FlightEtl:
    """Full load of a dirty flight CSV into an empty warehouse, then the
    same rows plus 10% new ones on top of it (``run_pipeline`` twice)."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.csvs = gen.write_flight_csvs(f"{work}/csv", seed, FLIGHT_ROWS)
        self._n = 0

    def _pipeline(self, spark, tr, chk, phase, wh) -> float | None:
        from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
            run_pipeline)
        csv_path = self.csvs["paths"]["full" if phase == "full" else "incr"]
        try:
            with tr.span("flight_pipeline.run_pipeline", phase=phase) as counts:
                report, secs = _timed(run_pipeline, spark, csv_path, wh)
                counts.update(new=report["ingested_new_rows"],
                              incoming=report["source_rows"], fact=report["fact_rows"])
            tr.harvest()
        except Exception as exc:  # noqa: BLE001 — a crash is a failed operation
            chk.record(f"run_pipeline[{phase}]", f"{type(exc).__name__}: {exc}")
            return None
        want = self.csvs["expected"][phase]
        problem = None if report == want else f"report {report} != planted truth {want}"
        chk.record(f"run_pipeline[{phase}]", problem)
        return None if problem else secs

    def warmup(self, spark, tr, chk) -> None:
        """One operation, then the incremental CSV once more: nothing new."""
        wh = f"{self.work}/wh_warm"
        for phase in ("full", "incr", "rerun"):
            self._pipeline(spark, tr, chk, phase, wh)
        shutil.rmtree(wh, ignore_errors=True)

    def op(self, spark, tr, chk) -> dict:
        self._n += 1
        wh = f"{self.work}/wh_{self._n}"
        with tr.around(FLIGHT_SPANS):
            full = self._pipeline(spark, tr, chk, "full", wh)
            incr = self._pipeline(spark, tr, chk, "incr", wh)
        ratio = _dir_bytes(wh) / os.path.getsize(self.csvs["paths"]["incr"])
        shutil.rmtree(wh, ignore_errors=True)
        if full is None or incr is None:
            return {}
        return {"etl_full_s": full, "etl_incr_s": incr, "etl_bytes_ratio": ratio}


class BiDashboard(_OracleFaces):
    """Dashboard refreshes: the five reference KPIs built and fetched."""

    def __init__(self, work: str, seed: int):
        super().__init__(gen.write_tables(f"{work}/dash", seed, DASH_SF))

    def op(self, spark, tr, chk) -> dict:
        secs = self._run_faces(spark, tr, chk, KPIS, "kpi")
        return {} if secs is None else {"dash_refresh_s": secs}

    warmup = op


class MediaStream(_OracleFaces):
    """The five codec faces (mapInPandas kernels) and three streaming
    folds (availableNow streams), each built and fetched."""

    def __init__(self, work: str, seed: int):
        super().__init__(gen.write_tables(f"{work}/media", seed, MEDIA_SF))

    def op(self, spark, tr, chk) -> dict:
        media = self._run_faces(spark, tr, chk, CODEC, "multimodal")
        stream = self._run_faces(spark, tr, chk, STREAM, "streaming")
        return {} if media is None or stream is None else {"media_s": media, "stream_s": stream}

    warmup = op


class LlmCuration:
    """``curate_corpus`` over a seeded document corpus with planted exact
    duplicates, near duplicates, PII and too-short documents."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.data = gen.write_tables(f"{work}/corpus", seed, CURATE_SF)
        self._first: dict | None = None
        self._n = 0

    def op(self, spark, tr, chk) -> dict:
        from airflow_project_flight_price_analysis_spark.jobs.corpus_pipeline import (
            curate_corpus)
        self._n += 1
        out = f"{self.work}/curated_{self._n}"
        try:
            with tr.around(CURATE_SPANS), tr.span("corpus_pipeline.curate_corpus") as counts:
                report, secs = _timed(curate_corpus, spark, self.data, out)
                counts.update(n_input=report["n_input"], n_written=report["n_written"])
            tr.harvest()
        except Exception as exc:  # noqa: BLE001 — a crash is a failed operation
            chk.record("curate_corpus", f"{type(exc).__name__}: {exc}")
            return {}
        problem = self._problem(out, report)
        chk.record("curate_corpus", problem)
        shutil.rmtree(out, ignore_errors=True)
        return {} if problem else {"curate_s": secs}

    warmup = op

    def _problem(self, out: str, report: dict) -> str | None:
        stages = [pq.read_metadata(f"{self.data}/documents.parquet").num_rows,
                  report["n_input"], report["n_after_quality"],
                  report["n_after_exact_dedup"], report["n_after_neardup"],
                  report["n_written"]]
        if stages[0] != stages[1] or any(b > a for a, b in zip(stages, stages[1:])):
            return f"stage counts not non-increasing from the input: {stages}"
        curated = pq.read_table(f"{out}/curated", columns=["doc_id", "split"])
        if curated.num_rows != report["n_written"]:
            return f"n_written {report['n_written']} != {curated.num_rows} curated rows"
        if len(pc.unique(curated["doc_id"])) != curated.num_rows:
            return "a doc_id repeats in the curated table"
        splits = set(pc.unique(curated["split"]).to_pylist())
        if not splits <= {"train", "test"}:
            return f"unexpected splits {splits}"
        if sum(report["splits"].values()) != report["n_written"]:
            return f"splits {report['splits']} do not add up to n_written"
        self._first = self._first or report
        if report != self._first:
            return f"report {report} differs from the first run's {self._first}"
        return None


class Composite:
    """Several workloads' warm-ups and operations run back to back in one
    process, so their sessions and warm-ups are paid once."""

    def __init__(self, parts):
        self.parts = parts

    def warmup(self, spark, tr, chk) -> None:
        for p in self.parts:
            p.warmup(spark, tr, chk)

    def op(self, spark, tr, chk) -> dict:
        """Every part's timings, or {} if any part failed (all still run)."""
        got = [p.op(spark, tr, chk) for p in self.parts]
        return {} if not all(got) else {k: v for g in got for k, v in g.items()}


#: the benchmark's workloads; each optimisable layer works in one and is
#: bypassed by the other (README.md gives the map)
WORKLOADS = {
    "flight_bi": lambda work, seed: Composite(
        [FlightEtl(work, seed), BiDashboard(work, seed)]),
    "llm_media": lambda work, seed: Composite(
        [LlmCuration(work, seed), MediaStream(work, seed)]),
}
