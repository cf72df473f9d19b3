"""The three workloads. Each drives the engine only through its public
functions, runs a fixed number of passes (sized from ``--seconds``) on a
closed loop with one client, and checks every output it produces.

A workload object is built in four steps: ``generate`` (inputs, before
the set-up clock), ``setup`` (DDL, history seeding, warm-up),
``run_pass`` (one timed pass; the runner calls it ``passes`` times) and
``verify`` (checks that are not timed).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import time

import gen

SIZES = {
    "full": {
        "history_hours": 720, "history_rows": 16, "history_files": 4,
        "hour_rows": (3900, 4300), "hour_files": 3,
        "bulk_rows": (95_000, 105_000), "bulk_files": 4, "range_hours": 6,
        "catalog_scale": 1.0,
    },
    # the self-test's tiny instance of the same workloads
    "tiny": {
        "history_hours": 48, "history_rows": 4, "history_files": 2,
        "hour_rows": (300, 340), "hour_files": 2,
        "bulk_rows": (4_000, 4_400), "bulk_files": 2, "range_hours": 2,
        "catalog_scale": 0.2,
    },
}

CATALOG_KEYS = [
    "q1_pricing_summary",
    "q21_waiting_suppliers",
    "text_bpe_encode",
    "classify_naive_bayes",
    "text_contamination_bloom",
    "dedup_semantic",
    "ann_cosine_topk",
    "sink_time_travel",
]
CATALOG_TABLES = ["nation", "supplier", "orders", "lineitem", "documents", "embeddings", "events"]

WARMUP_HOURS = 1  # bulk_backfill
POLL_S = 0.01
DEADLINE_S = 120.0
HISTORY_START = dt.datetime(2024, 1, 1)
TIMED_START = HISTORY_START + dt.timedelta(days=30)


def spark_counts(sc, groups) -> tuple[int, int, int]:
    """Spark jobs, stages that ran tasks, and tasks run, over job groups."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the listener bus
    st = sc.statusTracker()
    jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = n_tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            n_stages += 1
            n_tasks += info.numCompletedTasks
    return len(jobs), n_stages, n_tasks


def dir_files_bytes(path: str) -> tuple[int, int]:
    """Data files and their bytes in one committed partition directory."""
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if not f.startswith((".", "_"))
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


class Workload:
    """Shared bookkeeping: op latencies, failures, Spark counters."""

    def __init__(self, seed: int, work: str, sizes: dict, passes: int, tracer):
        self.seed = seed
        self.work = work
        self.sizes = sizes
        self.passes = passes
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.ingest_lat: list[float] = []
        self.readback_lat: list[float] = []
        self.rows_verified = 0
        self.counts = {"ingests": 0, "readbacks": 0}
        self.handoff: list[float] = []
        self.setup_phases: dict[str, float] = {}
        self.spark = None

    def fail(self, what: str) -> None:
        self.failures.append(what)

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t0

    def add_counts(self, kind: str, groups) -> None:
        jobs, stages, tasks = spark_counts(self.spark.sparkContext, groups)
        for name, n in (("jobs", jobs), ("stages", stages), ("tasks", tasks)):
            key = f"spark.{name}_{kind}"
            self.counts[key] = self.counts.get(key, 0) + n

    def group(self, name: str) -> str:
        self.spark.sparkContext.setJobGroup(name, name)
        return name

    def readback(self, table_root: str, part: str, expected: int, tag: str, timed: bool = True) -> None:
        """Pruned one-hour read through read_landing_table(...).count(),
        checked against the rows generated for that hour."""
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import sink

        self.attempted += 1
        group = self.group(f"rb-{tag}")
        with self.tracer.op("readback", keys=[part]):
            t0 = time.perf_counter()
            try:
                df = sink.read_landing_table(self.spark, table_root, part)
                with self.tracer.span("operators.sink.read_exec"):
                    n = df.count()
            except Exception as exc:
                self.fail(f"readback {part}: {exc}")
                return
            lat = time.perf_counter() - t0
        if n != expected:
            self.fail(f"readback {part}: {n} rows, expected {expected}")
        if not timed:
            return
        self.readback_lat.append(lat)
        self.rows_verified += n if n == expected else 0
        self.counts["readbacks"] += 1
        self.add_counts("readback", [group])


class HourlyIngest(Workload):
    """GET exists, PUT ingest, poll job_status to terminal, pruned
    read-back — through ``api.service.IngestService`` — into a table
    seeded with a month of hourly history."""

    name = "hourly_ingest"

    def generate(self) -> str:
        sz = self.sizes
        rng = gen.rng_for(self.seed, self.name)
        self.bucket = os.path.join(self.work, "bucket")
        self.staged = os.path.join(self.work, "staged")
        self.history = os.path.join(self.work, "history")
        n_hist = sz["history_hours"]
        first_hist = TIMED_START - dt.timedelta(hours=n_hist)
        gen.write_history_parquet(
            rng, self.history, first_hist, n_hist, sz["history_rows"], sz["history_files"]
        )
        # a block is three hour loads then one re-load, with new content, of
        # an hour loaded earlier in the same phase; the warm-up block
        # overwrites the last three history hours, each timed pass is one
        # block of three new hours
        content = 0
        self.csv_bytes: dict[int, int] = {}
        self.rows_of: dict[int, int] = {}

        def make(hour, staged=False):
            nonlocal content
            content += 1
            root = os.path.join(self.staged, str(content)) if staged else self.bucket
            n = int(rng.integers(*sz["hour_rows"]))
            self.csv_bytes[content] = gen.write_csv_hour(
                rng, root, hour, n, sz["hour_files"], content * 1_000_000
            )
            self.rows_of[content] = n
            return content

        def block(hours, pool):
            ops = [("load", h, make(h)) for h in hours]
            pool.extend(hours)
            again = pool[int(rng.integers(0, len(pool)))]
            return ops + [("reload", again, make(again, staged=True))]

        hour = dt.timedelta(hours=1)
        self.warmup = block([TIMED_START - k * hour for k in (3, 2, 1)], [])
        loaded: list[dt.datetime] = []
        self.schedule = [
            block([TIMED_START + (3 * p + k) * hour for k in range(3)], loaded)
            for p in range(self.passes)
        ]
        return gen.digest(self.work)

    def setup(self, spark) -> None:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.api import models, service
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import sink
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries import catalog

        self.spark = spark
        with self.phase("ddl"):
            self.service = service.IngestService(spark, os.path.join(self.work, "warehouse"))
            self.table_root = self.service.create_landing_table(
                "lake", "events", catalog.EVENTS_SCHEMA
            )
        self.request = models.NewLoadJob(
            bucket_name=self.bucket, dataset_id="lake", table_id="events",
            job_configuration={"timestampFormat": catalog.TS_FMT},
        )
        with self.phase("seed"):
            state = sink.write_partition_overwrite(
                spark.read.parquet(self.history), self.table_root, ts_col="ts"
            )
        if int(state) != 2:
            raise RuntimeError(f"history seeding ended in state {state!r}")
        self.content_of: dict[str, int] = {}
        with self.phase("warmup"):
            for i, op in enumerate(self.warmup):
                self.request_op(f"w{i}", op, timed=False)

    def request_op(self, tag: str, op, timed: bool = True) -> None:
        kind, hour, cid = op
        part = gen.partition_of(hour)
        if kind == "reload":  # the hour's source files are replaced upstream
            shutil.rmtree(gen.hour_dir(self.bucket, hour))
            shutil.move(gen.hour_dir(os.path.join(self.staged, str(cid)), hour),
                        gen.hour_dir(self.bucket, hour))
        self.attempted += 1
        groups = [self.group(f"in-{tag}")]
        with self.tracer.op("ingest", keys=[part]):
            t0 = time.perf_counter()
            try:
                if self.service.partition_exists_in_bucket(self.bucket, part) != 1:
                    raise RuntimeError("probe found no files")
                job = self.service.ingest_partition(part, self.request)
                self.tracer.bind(job.job_id, self.tracer.current_op)
                groups.append(job.job_id)
                polls = 0
                while True:
                    status = self.service.job_status(job.job_id).status
                    polls += 1
                    if status.code != 1:
                        break
                    if time.perf_counter() - t0 > DEADLINE_S:
                        raise RuntimeError("job still RUNNING at the deadline")
                    time.sleep(POLL_S)
                seen = time.perf_counter()
                if status.code != 2:
                    raise RuntimeError(f"job ended {status.name}: {status.error_msg}")
            except Exception as exc:
                self.fail(f"ingest {part}: {exc}")
                return
        lat = seen - t0
        self.content_of[part] = cid
        if timed:
            self.record_ingest(lat, polls, seen, job.job_id, groups)
        self.readback(self.table_root, part, self.rows_of[cid], tag, timed)

    def record_ingest(self, lat, polls, seen, job_id, groups) -> None:
        self.ingest_lat.append(lat)
        self.counts["ingests"] += 1
        self.counts["polls"] = self.counts.get("polls", 0) + polls
        if job_id in self.tracer.action_end:
            self.handoff.append(seen - self.tracer.action_end[job_id])
        self.add_counts("ingest", groups)

    def run_pass(self, p: int) -> None:
        for i, op in enumerate(self.schedule[p]):
            self.request_op(f"{p}.{i}", op)

    def verify(self) -> None:
        """Re-loaded hours hold only their new content: count and
        smallest event id both match the latest generated file set."""
        from pyspark.sql import functions as F

        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import sink

        reloaded = {gen.partition_of(op[1]) for ops in self.schedule for op in ops if op[0] == "reload"}
        for part in sorted(reloaded):
            if part not in self.content_of:
                continue
            try:
                row = sink.read_landing_table(self.spark, self.table_root, part).agg(
                    F.count(F.lit(1)).alias("n"), F.min("event_id").alias("lo")
                ).first()
            except Exception as exc:
                self.fail(f"re-load {part}: {exc}")
                continue
            cid = self.content_of[part]
            if row["n"] != self.rows_of[cid] or row["lo"] != cid * 1_000_000:
                self.fail(f"re-load {part}: rows {row['n']} min id {row['lo']}, expected content {cid}")
        files = nbytes = 0
        hours = {gen.partition_of(op[1]) for ops in self.schedule for op in ops}
        csv = 0
        for part in hours:
            if part not in self.content_of:
                continue
            f, b = dir_files_bytes(gen.hour_dir(self.table_root, gen.datetime_of(part)))
            files += f
            nbytes += b
            csv += self.csv_bytes[self.content_of[part]]
        self.storage = {"hours": len(hours), "files": files, "bytes": nbytes, "csv_bytes": csv}


class BulkBackfill(Workload):
    """Synchronous ``plans.ingest.backfill_partition_range`` over
    consecutive 6-hour ranges of ~100k-row hours, clustered by user_id,
    into an initially empty table; every hour is read back. A 1-hour
    range warms up."""

    name = "bulk_backfill"

    def generate(self) -> str:
        sz = self.sizes
        rng = gen.rng_for(self.seed, self.name)
        self.bucket = os.path.join(self.work, "bucket")
        n_hours = WARMUP_HOURS + self.passes * sz["range_hours"]
        self.rows_of: dict[str, int] = {}
        self.csv_bytes: dict[str, int] = {}
        for h in range(n_hours):
            hour = TIMED_START + dt.timedelta(hours=h)
            n = int(rng.integers(*sz["bulk_rows"]))
            part = gen.partition_of(hour)
            self.csv_bytes[part] = gen.write_csv_hour(rng, self.bucket, hour, n, sz["bulk_files"], h * 10_000_000)
            self.rows_of[part] = n
        return gen.digest(self.work)

    def setup(self, spark) -> None:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import sink
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries import catalog

        self.spark = spark
        self.schema = catalog.EVENTS_SCHEMA
        self.job_config = {"timestampFormat": catalog.TS_FMT}
        self.table_root = os.path.join(self.work, "warehouse", "lake", "events_backfill")
        with self.phase("ddl"):
            sink.create_partitioned_table(spark, self.table_root)
        with self.phase("warmup"):
            self.backfill(TIMED_START, WARMUP_HOURS, "w", timed=False)

    def backfill(self, start: dt.datetime, n_hours: int, tag: str, timed: bool = True) -> None:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans import ingest

        hours = [gen.partition_of(start + dt.timedelta(hours=h)) for h in range(n_hours)]
        end = gen.partition_of(start + dt.timedelta(hours=n_hours))
        self.attempted += 1
        group = self.group(f"bf-{tag}")
        with self.tracer.op("backfill", keys=hours):
            t0 = time.perf_counter()
            try:
                metas = ingest.backfill_partition_range(
                    self.spark, self.bucket, self.table_root, hours[0], end,
                    self.schema, job_config=self.job_config, cluster_by=["user_id"],
                )
            except Exception as exc:
                self.fail(f"backfill {hours[0]}: {exc}")
                return
            lat = time.perf_counter() - t0
        bad = [(m.partition, m.status.name) for m in metas if int(m.status) != 2]
        if bad or len(metas) != n_hours:
            self.fail(f"backfill {hours[0]}: {len(metas)} jobs, not SUCCESS: {bad}")
        if timed:
            self.ingest_lat.append(lat)
            self.counts["ingests"] += n_hours
            self.add_counts("ingest", [group])
        for i, part in enumerate(hours):
            self.readback(self.table_root, part, self.rows_of[part], f"{tag}.{i}", timed)

    def run_pass(self, p: int) -> None:
        rh = self.sizes["range_hours"]
        self.backfill(TIMED_START + dt.timedelta(hours=WARMUP_HOURS + p * rh), rh, str(p))

    def verify(self) -> None:
        files = nbytes = csv = 0
        hours = list(self.rows_of)[WARMUP_HOURS:]
        for part in hours:
            path = gen.hour_dir(self.table_root, gen.datetime_of(part))
            if not os.path.isdir(path):
                continue
            f, b = dir_files_bytes(path)
            files += f
            nbytes += b
            csv += self.csv_bytes[part]
        self.storage = {"hours": len(hours), "files": files, "bytes": nbytes, "csv_bytes": csv}


class CatalogKeys(Workload):
    """Eight catalog keys through ``queries.catalog.QUERIES`` with the
    noop sink; caches released between passes as bench.py does; each
    output checked once against its DuckDB oracle."""

    name = "catalog_keys"

    def generate(self) -> str:
        self.data = os.path.join(self.work, "tables")
        gen.write_catalog_tables(self.seed, self.data, self.sizes["catalog_scale"])
        return gen.digest(self.data)

    def setup(self, spark) -> None:
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators import _cache
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.queries import catalog

        self.spark = spark
        self.cache = _cache
        self.queries, self.oracles = catalog.QUERIES, catalog.ORACLES
        # warm-up: one pass that collects every output for the oracle check
        self.outputs = {}
        for key in CATALOG_KEYS:
            self.group(f"w.{key}")
            with self.phase(f"warmup.{key}"):
                try:
                    df = self.queries[key](spark, self.data)
                    self.outputs[key] = (df.columns, df.collect())
                except Exception as exc:
                    self.fail(f"{key} (warm-up): {exc}")
        self.release()

    def release(self) -> None:
        self.cache.release_all_scopes()
        self.spark.catalog.clearCache()

    def run_pass(self, p: int) -> None:
        for key in CATALOG_KEYS:
            self.attempted += 1
            group = self.group(f"k{p}.{key}")
            with self.tracer.op(key):
                try:
                    with self.tracer.span(f"queries.catalog.{key}.build"):
                        df = self.queries[key](self.spark, self.data)
                    with self.tracer.span(f"queries.catalog.{key}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:
                    self.fail(f"{key} pass {p}: {exc}")
                    continue
            jobs, _, _ = spark_counts(self.spark.sparkContext, [group])
            self.counts[f"queries.catalog.{key}.jobs"] = jobs
        self.release()

    def verify(self) -> None:
        """Hash-match every warm-up output against its oracle, with the
        normalisation of scripts/check_correctness.py."""
        import importlib.util

        import duckdb

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "check_correctness", os.path.join(root, "scripts", "check_correctness.py")
        )
        cc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(cc)
        con = duckdb.connect()
        for t in CATALOG_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        for key in CATALOG_KEYS:
            self.attempted += 1
            if key not in self.outputs:
                continue
            cols, rows = self.outputs[key]
            try:
                rel = con.sql(self.oracles[key])
                ocols, orows = rel.columns, rel.fetchall()
            except Exception as exc:
                self.fail(f"{key}: oracle error: {exc}")
                continue
            if sorted(cols) != sorted(ocols):
                self.fail(f"{key}: columns {sorted(cols)} differ from the oracle's {sorted(ocols)}")
                continue
            got, want = cc.normalize(rows, cols), cc.normalize(orows, ocols)
            if got != want:
                extra = sorted(set(got) - set(want))[:2]
                missing = sorted(set(want) - set(got))[:2]
                self.fail(
                    f"{key}: output differs from its DuckDB oracle ({len(rows)} vs {len(orows)} rows;"
                    f" engine has {extra}, oracle has {missing}; columns {sorted(cols)})"
                )
        con.close()
        self.storage = None


WORKLOADS = {w.name: w for w in (HourlyIngest, BulkBackfill, CatalogKeys)}
# One pass's wall time on a 4-core host; a run does the fixed number of
# passes that fills about ``--seconds`` (at least one).
NOMINAL_PASS_S = {"hourly_ingest": 4.5, "bulk_backfill": 9.5, "catalog_keys": 13.5}


def n_passes(workload: str, seconds: int, tiny: bool) -> int:
    if tiny:
        return 1
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))
