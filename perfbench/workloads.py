"""The benchmark's workloads. Each is a closed loop: the benchmark process
is the one client, and it issues an op only after the previous one has
returned its materialised result.

An op is one call into the engine's public API up to that result. Every
op has two phases, each a span of the layer it calls into:

* ``build``: the call that returns the result frame (a registered query,
  or the census fetch/compose/boundary chain). Eager Spark jobs and
  driver-side local tails run here.
* ``exec``: the sink that materialises it (a one-row fingerprint aggregate
  over every output column, or an export).

Output checks run between ops and are not timed.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import contextmanager, nullcontext

import checks
import datagen

# The forced-distributed op of iterative_build: functions.dedup.dup_clusters
# with local_tail_max=0 on the minhash pair set of tools/tail_parity.py.
DISTRIBUTED_DUP_CLUSTERS = "dup_clusters_distributed"
# The gated operators' default threshold, at which the local tail fires on
# sf0.1 (tools/tail_parity.py runs both paths with 2_000_000 and 0).
LOCAL_TAIL_MAX = 2_000_000

# Registered sf0.1 queries whose time is in the plans build: eager Spark
# jobs and driver-side numpy local tails, not the sink; plus one gated
# operator called through its public API on its distributed path.
ITERATIVE_BUILD = [
    "graph_louvain_move",
    "dedup_clusters",
    DISTRIBUTED_DUP_CLUSTERS,
]

# census_etl: states written per pass before the national op, which reads
# all 52 back. A per-state op takes ~1.2 s on 4 cores, so a pass that
# wrote all 52 would outlast a run's timed section.
STATES_PER_PASS = 4

RATES = {
    "pct_white": ("white_alone", "total_population"),
    "pct_black": ("black_alone", "total_population"),
    "pct_hispanic": ("hispanic_latino", "total_population"),
    "poverty_rate": ("below_poverty_level", "total_population"),
    "vacancy_rate": ("vacant_units", "total_housing_units"),
}


class Run:
    """State shared by one benchmark run: the session, the tracer and
    the time spent in untimed checks."""

    def __init__(self, spark, tracer, lake: str, work: str, shared: str,
                 workload: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.lake = lake
        self.work = work
        self.shared = shared
        self.workload = workload
        self.seed = seed
        self.untimed_s = 0.0
        self.layer: dict[str, list[float]] = {}

    def span(self, layer: str, op: str | None, phase: str | None = None, jobs: bool = False):
        """A layer span of ``op``; no span at all when ``op`` is None."""
        if op is None:
            return nullcontext()
        group = f"{self.workload}:{op}:{layer}" if jobs else None
        return self.tracer.span(layer, op, group=group, phase=phase)

    def note(self, key: str, value: float) -> None:
        """A per-op layer measurement that is not a span (counts, bytes)."""
        self.layer.setdefault(key, []).append(value)

    @contextmanager
    def untimed(self):
        """Time spent in here is left out of the set-up and timed sections."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's own
    query execution (its QueryPlanningTracker), after it has run."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.valuesIterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)


def sink(run: Run, df, op: str) -> tuple[int, int]:
    """The exec phase of a query op: the fingerprint aggregate."""
    with run.span("exec", op, phase="exec", jobs=True):
        fp_df = checks.fingerprint_frame(df)
        row = fp_df.collect()[0]
        if run.tracer.enabled:
            run.note("exec.catalyst_ms", catalyst_ms(fp_df))
    return int(row["n"]), int(row["h"])


class QueryWorkload:
    """Registered queries, each pass every member once in a seeded order,
    and the forced-distributed ``functions.dedup.dup_clusters`` op.

    Checks: the first call of each query in a run is compared with its
    DuckDB oracle (cached digest), and the first distributed call with the
    same call's local-tail result (the rule of tools/tail_parity.py:
    equal, or equal at 6 dp); that first call sets the op's reference
    fingerprint, and every later call must reproduce it with rows > 0."""

    def __init__(self, members: list[str]):
        self.members = members

    def oracles(self) -> dict[str, str]:
        from census_data_pipeline_spark.plans import ORACLE

        return {n: ORACLE[n] for n in self.members if n in ORACLE}

    def inputs_ready(self, shared: str) -> bool:
        return True

    def prepare(self, run: Run, oracle_cache: checks.OracleCache) -> None:
        self.cache = oracle_cache
        self.reference: dict[str, tuple[int, int]] = {}
        if DISTRIBUTED_DUP_CLUSTERS in self.members:
            from census_data_pipeline_spark.functions import dedup
            from census_data_pipeline_spark.sources.catalog import load_table

            # The pair set of tools/tail_parity.py, materialised once as
            # the operator's input.
            docs = load_table(run.spark, run.lake, "documents")
            self.pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).select(
                "id_a", "id_b").localCheckpoint()

    def passes(self, rng: random.Random):
        while True:
            order = list(self.members)
            rng.shuffle(order)
            yield order

    def dup_clusters(self, local_tail_max: int):
        from census_data_pipeline_spark.functions import dedup

        return dedup.dup_clusters(self.pairs, local_tail_max=local_tail_max)

    def run_op(self, run: Run, name: str, op: str):
        from census_data_pipeline_spark.plans import QUERIES

        if name == DISTRIBUTED_DUP_CLUSTERS:
            with run.span("functions", op, phase="build", jobs=True):
                df = self.dup_clusters(local_tail_max=0)
        else:
            with run.span("plans", op, phase="build", jobs=True):
                df = QUERIES[name](run.spark, run.lake)
        return df, sink(run, df, op)

    def check(self, run: Run, name: str, result) -> dict[str, str]:
        df, fp = result
        if name not in self.reference:
            self.reference[name] = fp
            if name == DISTRIBUTED_DUP_CLUSTERS:
                tail = self.dup_clusters(local_tail_max=LOCAL_TAIL_MAX).collect()
                bad = checks.tail_parity(tail, df.collect())
                if bad:
                    return {name: f"distributed vs local tail: {bad}"}
            sql = self.oracles().get(name)
            if sql is not None:
                want = self.cache.get(sql)
                got = checks.row_digest(df.columns, df.collect())
                if got != want:
                    return {name: f"oracle mismatch (rows {got['rows']} vs {want['rows']})"}
        if fp[0] <= 0:
            return {name: "no rows"}
        if fp != self.reference[name]:
            return {name: f"fingerprint {fp} differs from {self.reference[name]}"}
        return {}


class CensusWorkload:
    """The reference pipeline: per-state fetch, clean, derive, boundary
    join and parquet export, then one national op per pass that reads all
    52 states back, summarises and exports CSV.

    The national read takes each state from this run's export when the
    run has written it, and otherwise from the base set: all 52 states
    exported by the same per-state chain from seed-42 responses, once per
    checkout (not timed, like the query lake).

    Checks: the national op's per-state rows, population and poverty
    totals and boundary non-matches must equal a pure-Python computation
    over the generated responses; a mismatch fails that state's op too."""

    def oracles(self) -> dict[str, str]:
        return {}

    @staticmethod
    def base_dir(shared: str) -> str:
        return os.path.join(shared, f"census_base_seed{datagen.LAKE_SEED}")

    def inputs_ready(self, shared: str) -> bool:
        return os.path.isdir(self.base_dir(shared))

    def build_inputs(self, run: Run) -> None:
        """Export the base set, once per checkout and in a process of its
        own, so the measured run's JVM starts cold. Written to a temporary
        sibling that is renamed into place."""
        from census_data_pipeline_spark import FIPS_CODES, CensusSparkPipeline

        base = self.base_dir(run.shared)
        tmp = f"{base}.tmp{os.getpid()}"
        transport = datagen.Transport(datagen.LAKE_SEED)
        pipeline = CensusSparkPipeline(run.spark, fetch=transport)
        for s in sorted(FIPS_CODES):
            geo = self._compose(run, pipeline, transport, datagen.LAKE_SEED, s, None)
            pipeline.export(geo, os.path.join(tmp, f"{s}.parquet"), "parquet")
        try:
            os.rename(tmp, base)
        except OSError:  # another run wrote the same set first
            shutil.rmtree(tmp)

    def prepare(self, run: Run, oracle_cache) -> None:
        from census_data_pipeline_spark import FIPS_CODES, CensusSparkPipeline

        self.transport = datagen.Transport(run.seed)
        self.pipeline = CensusSparkPipeline(run.spark, fetch=self.transport)
        self.states = sorted(FIPS_CODES)
        self.out = os.path.join(run.work, "census_out")
        os.makedirs(self.out)
        self.written: set[str] = set()
        self.totals: dict[tuple[int, str], dict] = {}
        self.base = self.base_dir(run.shared)

    def passes(self, rng: random.Random):
        order = list(self.states)
        rng.shuffle(order)
        i = 0
        while True:
            chunk = [order[(i + k) % len(order)] for k in range(STATES_PER_PASS)]
            i += STATES_PER_PASS
            yield [f"state:{s}" for s in chunk] + ["national"]

    def run_op(self, run: Run, name: str, op: str):
        if name == "national":
            return self._national(run, op)
        return self._state(run, name.split(":")[1], op)

    def _compose(self, run: Run, p, transport, seed: int, state: str, op: str | None):
        """Fetch one state's tracts and build the frame to export, with a
        span per layer call (none when ``op`` is None)."""
        from pyspark.sql import functions as F

        from census_data_pipeline_spark.operators import cleaning, rates
        from census_data_pipeline_spark.sources import tiger

        wait = max(0.0, p.client.RATE_LIMIT_DELAY - (time.time() - p.client._last_request_ts))
        busy0 = transport.busy_s
        with run.span("sources.census_api", op, jobs=True):
            tracts = p.fetch_acs5(datagen.VARIABLES, geography="tract", state=state)
        if op is not None:
            run.note("sources.census_api.transport_s", transport.busy_s - busy0)
            run.note("sources.census_api.rate_limit_wait_s", wait)
        with run.span("operators", op, jobs=True):
            tracts = cleaning.clean_missing_values(tracts, list(datagen.VARIABLES.values()))
            tracts = rates.calculate_rates(tracts, RATES)
            tracts = rates.sum_columns(
                tracts, "college_educated",
                ["bachelors_degree", "masters_degree", "doctorate_degree"])
            tracts = tracts.withColumn(
                "pct_college", F.col("college_educated") / F.col("total_population") * 100)
        with run.span("sources.tiger", op, jobs=True):
            bounds = tiger.boundaries_from_records(
                run.spark, datagen.boundary_records(seed, state))
        with run.span("operators", op, jobs=True):
            return p.join_tiger_geometries(tracts, bounds)

    def _state(self, run: Run, state: str, op: str):
        p = self.pipeline
        with run.span("build", op, phase="build"):
            geo = self._compose(run, p, self.transport, run.seed, state, op)
        path = os.path.join(self.out, f"{state}.parquet")
        with run.span("sources.exporters", op, phase="exec", jobs=True):
            p.export(geo, path, "parquet")
        self.written.add(state)
        if run.tracer.enabled:
            files = [f for f in os.listdir(path) if f.startswith("part-")]
            run.note("sources.exporters.files", len(files))
            run.note("sources.exporters.bytes",
                     sum(os.path.getsize(os.path.join(path, f)) for f in files))
            run.note("sources.exporters.rows", datagen.tract_count(run.seed, state))
        return None

    def _national(self, run: Run, op: str):
        from pyspark.sql import functions as F

        from census_data_pipeline_spark.operators import rollup, topk

        # state -> the seed of the responses its read-back file was made from
        sources = {s: run.seed if s in self.written else datagen.LAKE_SEED for s in self.states}
        p = self.pipeline
        with run.span("build", op, phase="build"):
            with run.span("sources.read", op, jobs=True):
                df = run.spark.read.parquet(*[
                    os.path.join(self.out if s in self.written else self.base, f"{s}.parquet")
                    for s in self.states])
            with run.span("operators", op, jobs=True):
                flagged = df.withColumn("unmatched", F.col("geometry").isNull().cast("int"))
                summary = rollup.grouped_summary(flagged, ["state"], [
                    ("count", "GEOID", "rows"),
                    ("sum", "total_population", "total_population"),
                    ("sum", "below_poverty_level", "below_poverty_level"),
                    ("sum", "unmatched", "unmatched"),
                ])
                county = rollup.aggregate_to_geography(
                    df, "county", {"total_population": "sum", "below_poverty_level": "sum"})
                top = topk.top_k(county, "total_population", 10, tiebreak=["GEOID"])
        with run.span("exec", op, phase="exec", jobs=True):
            got = summary.collect()
            if run.tracer.enabled:
                run.note("exec.catalyst_ms", catalyst_ms(summary))
            with run.span("sources.exporters", op, jobs=True):
                p.export(top, os.path.join(self.out, "national_top_counties.csv"), "csv")
        return sources, got

    def expected(self, seed: int, state: str) -> dict:
        key = (seed, state)
        if key not in self.totals:
            self.totals[key] = datagen.expected_state_totals(seed, state)
        return self.totals[key]

    def check(self, run: Run, name: str, result) -> dict[str, str]:
        if name != "national":
            return {}
        sources, got = result
        by_state = {r["state"]: r for r in got}
        bad = {}
        for s, seed in sources.items():
            want = self.expected(seed, s)
            r = by_state.get(s)
            have = None if r is None else {
                "rows": r["rows"], "total_population": r["total_population"] or 0.0,
                "below_poverty_level": r["below_poverty_level"] or 0.0,
                "unmatched": r["unmatched"]}
            if have != want:
                # a state this run wrote fails its own op; a base-set state
                # fails the national op
                op_name = f"state:{s}" if s in self.written else "national"
                bad[op_name] = f"read-back of {s} {have} != expected {want}"
        if bad or set(by_state) != set(sources):
            bad["national"] = f"states read back {sorted(by_state)}, expected {sorted(sources)}"
        return bad


WORKLOADS = {
    "census_etl": CensusWorkload,
    "iterative_build": lambda: QueryWorkload(ITERATIVE_BUILD),
}
