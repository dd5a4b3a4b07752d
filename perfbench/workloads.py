"""The two workloads. Each runs whole rounds of the same operations
until ``--seconds`` have passed after its cold unit (and at least a fixed
number of warm units), checks the program's outputs outside the timed
regions, and returns its metrics.

A *unit* is the timed piece the end-to-end metrics are built from:
one ``run_incremental_load`` (sync), one pass over the query mix
followed by one docs → cluster-labels run (lake). In the traced run
units alternate between traced and untraced, so the per-layer numbers
come from traced units and the tracing overhead is the difference of
the two medians.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import checks
import gen
from tracing import SparkMetrics, Tracer, median, output_rows


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer = field(default_factory=Tracer)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    failures: set[str] = field(default_factory=set)  # distinct failure messages
    units: list[tuple[str, float, bool]] = field(default_factory=list)
    clock: float | None = None  # when the first (cold) unit ended
    warm_clock: float | None = None  # when the first warm unit began

    def timed(self, kind: str, fn):
        """Run ``fn`` as one unit and record its wall time. The traced
        run traces even-numbered units only; nothing between units is
        traced."""
        n = len(self.units)
        self.tracer.enabled, self.tracer.unit = self.trace and n % 2 == 0, n
        with self.tracer.span("unit", kind=kind) as s:
            t0 = time.perf_counter()
            if kind == "warm" and self.warm_clock is None:
                self.warm_clock = t0
            out = fn()
            dt = time.perf_counter() - t0
        self.tracer.enabled = False
        self.units.append((kind, dt, s is not None))
        if self.clock is None:
            self.clock = time.perf_counter()
        return out

    def unit_times(self, kind: str, traced: bool | None = None) -> list[float]:
        return [t for k, t, tr in self.units if k == kind and (traced is None or tr == traced)]

    def overhead(self, kind: str) -> float:
        """Median traced unit minus median untraced unit."""
        on, off = self.unit_times(kind, True), self.unit_times(kind, False)
        return median(on) - median(off) if on and off else 0.0

    def check(self, problems: list[str]) -> None:
        self.problems.extend(problems)


# The lake workload: unit 0 is the cold unit. The check collects that
# follow it are untimed and warm the JIT like a warm-up unit; WARMUP more
# units follow, which no metric uses. Then at least MIN_WARM warm units,
# and more while ``seconds`` have not passed since the first of them
# began; the warm median is over them all. The JIT keeps compiling for
# many units (measured JVM CPU per dedup run: 26 s cold, 8 s, 7 s, 6 s,
# 5 s, 4 s; 1-4 s of every query-mix pass's JVM CPU is compiler
# threads), so the first units after the cold one run slower than the
# rest, by a share that varies from run to run.
WARMUP = 1
MIN_WARM = 4


def _unit_kind(n: int) -> str:
    return "cold" if n == 0 else "warmup" if n <= WARMUP else "warm"


def _more_units(ctx: Ctx, n: int) -> bool:
    if n < 1 + WARMUP + MIN_WARM:
        return True
    return time.perf_counter() - ctx.warm_clock < ctx.seconds


def _more_rounds(ctx: Ctx, rounds: int) -> bool:
    """Whole sync rounds until ``seconds`` have passed since the cold unit."""
    return rounds == 0 or time.perf_counter() - ctx.clock < ctx.seconds


# ---------------------------------------------------------------------------
# sync

SYNC_TABLE = "OPPORTUNITY"
DEFAULTS_TABLE = "OPPORTUNITY_DEFAULTS"
DERBY = "org.apache.derby.jdbc.EmbeddedDriver"
# The main object declares its key the way SF_TYPE_MAP types Ids; the
# default-options sync lets Spark pick Derby's type for strings (CLOB).
MAIN_PROPS = {"driver": DERBY, "createTableColumnTypes": "Id VARCHAR(18)"}
DEFAULT_PROPS = {"driver": DERBY}


def _derby_drop(spark, db: str) -> None:
    jvm = spark._jvm
    try:
        jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:memory:{db};drop=true")
    except Exception as e:  # Derby reports a successful drop as SQLState 08006
        if "08006" not in str(e) and "dropped" not in str(e):
            raise


def _read_warehouse(spark, url: str) -> list[tuple]:
    df = (spark.read.format("jdbc").option("url", url).option("dbtable", SYNC_TABLE)
          .options(**MAIN_PROPS).load())
    names = [f["name"] for f in gen.SYNC_FIELDS]
    return [tuple(r[n] for n in names) for r in df.collect()]


def sync(ctx: Ctx) -> dict:
    from salesforce_postgresql_etl_spark import pipeline
    from salesforce_postgresql_etl_spark.sources.incremental import WatermarkStore

    spark = ctx.spark
    d = os.path.join(ctx.work, "sync")
    os.makedirs(d, exist_ok=True)
    describe = json.dumps(gen.SYNC_FIELDS)

    def source(path):
        return (spark.read.format("sf_model").option("describe", describe)
                .option("path", path).option("page_size", "2000").load())

    def load(path, store, url, **kw):
        def op():
            with ctx.tracer.span("pipeline.run_incremental_load", rows=None) as s:
                r = pipeline.run_incremental_load(
                    source(path), gen.SYNC_TS, [gen.SYNC_KEY], store, SYNC_TABLE, url,
                    MAIN_PROPS, dialect="ansi", **kw)
                if s is not None:
                    s.attrs["rows"] = r.rows_extracted
            return r
        return op

    def default_options_attempt(lines, url):
        """The same sync of this cycle's changes with default JDBC
        options; untimed and untraced."""
        delta = os.path.join(d, "delta.jsonl")
        with open(delta, "w") as f:
            f.write("\n".join(lines) + "\n")
        store = WatermarkStore(os.path.join(d, "wm_defaults.json"))
        if os.path.exists(store.path):
            os.remove(store.path)
        ctx.attempted += 1
        try:
            pipeline.run_incremental_load(
                source(delta), gen.SYNC_TS, [gen.SYNC_KEY], store, DEFAULTS_TABLE, url,
                DEFAULT_PROPS, dialect="ansi", create_target=True)
        except Exception as e:  # counted, reported once per distinct message
            ctx.failed += 1
            lines = str(e).splitlines()
            ctx.failures.add(next((x for x in lines if "Exception:" in x), lines[0])[:300])

    if ctx.trace:
        for attr, name in [("incremental_extract", "sources.incremental.incremental_extract"),
                           ("latest_per_key", "pipeline.latest_per_key"),
                           ("upsert", "sources.jdbc.upsert"),
                           ("write_full", "sources.jdbc.write_full"),
                           ("advance_watermark", "sources.incremental.advance_watermark")]:
            ctx.tracer.wrap(pipeline, attr, name)

    rnd = 0
    while _more_rounds(ctx, rnd):
        log = gen.SyncLog(ctx.seed)
        path = os.path.join(d, "log.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(log.base()) + "\n")
        store = WatermarkStore(os.path.join(d, "wm.json"))
        if os.path.exists(store.path):
            os.remove(store.path)
        db = f"sync{rnd}"
        url = f"jdbc:derby:memory:{db};create=true"

        ctx.attempted += 1
        r = ctx.timed("init", load(path, store, url, create_target=True))
        ctx.check(checks.check_cycle(r, gen.SYNC_BASE_ROWS, gen.SYNC_BASE_ROWS, log.watermark))
        for _ in range(gen.SYNC_CYCLES):
            lines = log.cycle()
            with open(path, "a") as f:
                f.write("\n".join(lines) + "\n")
            ctx.attempted += 1
            r = ctx.timed("cycle", load(path, store, url))
            keys = {json.loads(x)[gen.SYNC_KEY] for x in lines}
            ctx.check(checks.check_cycle(r, len(lines), len(keys), log.watermark))
            default_options_attempt(lines, url)
        ctx.attempted += 1
        r = ctx.timed("empty", load(path, store, url))
        ctx.check(checks.check_cycle(r, 0, 0, log.watermark))
        expected = {k: gen.expected_row(rec) for k, rec in log.latest.items()}
        ctx.check(checks.check_warehouse(_read_warehouse(spark, url), expected))
        _derby_drop(spark, db)
        rnd += 1

    warm = median(ctx.unit_times("cycle"))
    out = {"cold_s": ctx.units[0][1], "warm_s": warm, "rows_per_s": gen.SYNC_CYCLE_ROWS / warm}
    if ctx.trace:
        out["layers"] = _sync_layers(ctx)
    return out


def _sync_layers(ctx: Ctx) -> dict:
    tr, sm = ctx.tracer, SparkMetrics(ctx.spark)
    loads = tr.named("pipeline.run_incremental_load")
    cycles = [s for s in loads if tr.spans[s.parent].attrs.get("kind") == "cycle"]
    inits = [s for s in loads if tr.spans[s.parent].attrs.get("kind") == "init"]

    def within(span, name):
        return [c for c in tr.children(span) if c.name == name]

    parsed = [sm.node_rows(s, "BatchScan sf_model") for s in cycles]
    staging, merge, wm = [], [], []
    for s in cycles:
        for u in within(s, "sources.jdbc.upsert"):
            jt = sm.job_time(u)
            staging.append(jt)
            merge.append(u.dur - jt)
        wm.extend(c.dur for c in within(s, "sources.incremental.advance_watermark"))
    return {
        "pipeline.cycle_self_s": median(tr.self_time(s) for s in cycles),
        "pipeline.jobs_per_cycle": median(len(sm.jobs_in(s)) for s in cycles),
        "pipeline.shuffle_bytes": median(sm.stage_sum(s, "shuffleWriteBytes") for s in cycles),
        "sources.sf_datasource.rows_parsed": median(parsed),
        "sources.sf_datasource.parse_per_delta_row": median(
            p / s.attrs["rows"] for p, s in zip(parsed, cycles) if s.attrs.get("rows")),
        "sources.jdbc.staging_write_s": median(staging),
        "sources.jdbc.merge_s": median(merge),
        "sources.jdbc.write_full_s": median(
            c.dur for s in inits for c in within(s, "sources.jdbc.write_full")),
        "sources.incremental.advance_watermark_s": median(wm),
        "trace.overhead_s": ctx.overhead("cycle"),
    }


# ---------------------------------------------------------------------------
# lake: the reporting query mix and LLM-corpus near-duplicate removal

# Relational, aggregate, window and CDC families of the query registry.
MIX = ("q_agg_group", "q_join_star", "q_agg_median",
       "q_win_dedup_latest", "q_join_asof", "q_snapshot_diff")
_QUERY_MODULES = ("relational", "aggregates", "windows", "cdc_q")


def lake(ctx: Ctx) -> dict:
    """One unit is one pass of the query mix (each query to the ``noop``
    sink, span ``mix``) followed by one docs → cluster-labels run (span
    ``dedup``)."""
    import importlib

    import duckdb

    from salesforce_postgresql_etl_spark.operators import clustering, dedup as dd
    from salesforce_postgresql_etl_spark.queries import registry

    spark = ctx.spark
    tdir = os.path.join(ctx.work, "tables")
    os.makedirs(tdir, exist_ok=True)
    counts = gen.write_tables(tdir, ctx.seed)
    docs, planted = gen.corpus(ctx.seed)
    path = os.path.join(ctx.work, "corpus.parquet")
    gen.write_corpus(path, docs)
    corpus = spark.read.parquet(path)
    rows_per_unit = sum(counts[t] for t in ("customer", "orders", "lineitem", "events")) + len(docs)
    reg = registry()
    queries = {name: reg[name] for name in MIX}

    if ctx.trace:
        for m in _QUERY_MODULES:
            mod = importlib.import_module(f"salesforce_postgresql_etl_spark.queries.{m}")
            ctx.tracer.wrap(mod, "load", "sources.tables.load")

    def pairs_df():
        with ctx.tracer.span("operators.dedup.neardup_pairs"):
            return dd.neardup_pairs(
                corpus, threshold=gen.DEDUP_THRESHOLD, strategy="minhash",
                n_hashes=gen.DEDUP_HASHES, bands=gen.DEDUP_BANDS)

    def one_unit():
        with ctx.tracer.span("mix"):
            for name, q in queries.items():
                with ctx.tracer.span(f"queries.{name}"):
                    with ctx.tracer.span("queries.build"):
                        df = q.fn(spark, tdir)
                    with ctx.tracer.span("queries.exec"):
                        df.write.format("noop").mode("overwrite").save()
                ctx.attempted += 1
        with ctx.tracer.span("dedup"):
            pairs = pairs_df()
            with ctx.tracer.span("operators.clustering.dedup_clusters"):
                labels = clustering.dedup_clusters(pairs)
            with ctx.tracer.span("collect"):
                rows = [(r.doc_id, r.cluster_id, r.is_canonical) for r in labels.collect()]
            ctx.attempted += 1
        return rows

    labels = [ctx.timed(_unit_kind(0), one_unit)]
    spark.catalog.clearCache()
    # The results the checks compare, collected after the cold unit; this
    # is untimed and warms the JIT like a warm-up unit. The pair collect's
    # spans carry unit -1, outside the units' numbering.
    results = {}
    for name, q in queries.items():
        df = q.fn(spark, tdir)
        results[name] = (df.columns, [tuple(r) for r in df.collect()])
    if ctx.trace:
        ctx.tracer.enabled, ctx.tracer.unit = True, -1
    with ctx.tracer.span("pairs_check") as probe:
        pairs = [(r.doc_a, r.doc_b) for r in pairs_df().collect()]
    ctx.tracer.enabled = False
    spark.catalog.clearCache()
    n = 1
    while _more_units(ctx, n):
        labels.append(ctx.timed(_unit_kind(n), one_unit))
        spark.catalog.clearCache()
        n += 1

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in counts:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tdir}/{t}.parquet')")
    for name, q in queries.items():
        cols, rows = results[name]
        o = con.sql(q.oracle)
        ctx.check(checks.compare_result(name, cols, rows, o.columns, o.fetchall()))
    con.close()
    texts = dict(docs)
    ctx.check(checks.check_pairs(pairs, texts, planted, gen.DEDUP_THRESHOLD, gen.DEDUP_FAR_ABOVE))
    for result in {tuple(sorted(r)) for r in labels}:  # each distinct result once
        ctx.check(checks.check_clusters(list(result), list(texts), pairs))

    warm = median(ctx.unit_times("warm"))
    out = {"cold_s": ctx.units[0][1], "warm_s": warm, "rows_per_s": rows_per_unit / warm}
    if ctx.trace:
        sm = SparkMetrics(spark)
        out["layers"] = {**_query_layers(ctx, sm), **_dedup_layers(ctx, sm, probe, len(pairs)),
                         "trace.overhead_s": ctx.overhead("warm")}
    return out


def _warm_parts(ctx: Ctx, name: str) -> list:
    """The ``name`` sub-span of every traced warm unit."""
    tr = ctx.tracer
    units = [s for s in tr.named("unit") if s.attrs.get("kind") == "warm"]
    return [p for u in units for p in tr.named(name, u.unit)]


def _query_layers(ctx: Ctx, sm: SparkMetrics) -> dict:
    tr = ctx.tracer
    passes = _warm_parts(ctx, "mix")
    cold = [s for s in tr.named("unit") if s.attrs.get("kind") == "cold"]
    per_pass = {"build": [], "exec": []}
    for p in passes:
        for part in per_pass:
            per_pass[part].append(sum(s.dur for s in tr.named(f"queries.{part}", p.unit)))
    out = {
        f"queries.{name}_s": median(s.dur for p in passes for s in tr.named(f"queries.{name}", p.unit))
        for name in MIX
    }
    out.update({
        "queries.build_s": median(per_pass["build"]),
        "queries.exec_s": median(per_pass["exec"]),
        "sources.tables.load_s": sum(
            s.dur for c in cold for s in tr.named("sources.tables.load", c.unit)),
        "queries.shuffle_bytes": median(sm.stage_sum(p, "shuffleWriteBytes") for p in passes),
        "queries.spill_bytes": median(
            sm.stage_sum(p, "memoryBytesSpilled") + sm.stage_sum(p, "diskBytesSpilled") for p in passes),
        "queries.stages": median(sm.stage_count(p) for p in passes),
    })
    return out


def _dedup_layers(ctx: Ctx, sm: SparkMetrics, probe, n_pairs: int) -> dict:
    """The pair emitter is lazy: its jobs run inside dedup_clusters'
    first checkpoint. Jobs of SQL executions that scan the corpus file
    are counted as neardup_pairs work, the rest as clustering."""
    tr = ctx.tracer
    near, clus, jobs = [], [], []
    for d in _warm_parts(ctx, "dedup"):
        call = tr.named("operators.dedup.neardup_pairs", d.unit)
        dc = tr.named("operators.clustering.dedup_clusters", d.unit)
        col = tr.named("collect", d.unit)
        scan_jobs = {j for e in _corpus_sql(sm, d) for j in e["jobs"]}
        scan_time = sum(j["end"] - j["start"] for j in sm.jobs_in(d) if j["id"] in scan_jobs)
        near.append(sum(s.dur for s in call) + scan_time)
        clus.append(sum(s.dur for s in dc + col) - scan_time)
        jobs.append(sum(1 for j in sm.jobs_in(d) if j["id"] not in scan_jobs))
    candidates = _candidate_rows(sm, probe)
    return {
        "operators.dedup.neardup_pairs_s": median(near),
        "operators.dedup.candidates": candidates,
        "operators.dedup.pairs": float(n_pairs),
        "operators.dedup.verify_yield": n_pairs / candidates if candidates else 0.0,
        "operators.clustering.dedup_clusters_s": median(clus),
        "operators.clustering.jobs": median(jobs),
    }


def _corpus_sql(sm: SparkMetrics, span) -> list[dict]:
    return [e for e in sm.sql_in(span)
            if any(n.get("nodeName", "").startswith("Scan parquet") for n in e["nodes"])]


_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")


def _candidate_rows(sm: SparkMetrics, probe) -> float:
    """Candidate pairs entering the exact verify, read from the untimed
    pair-check collect. The verify predicate runs inside the plan's
    last join (lowest node id), which attaches ``t_b`` to the joins
    one level down: that join's output is one row per candidate."""
    for e in _corpus_sql(sm, probe):
        joins = sorted((n for n in e["nodes"] if n.get("nodeName") in _JOINS),
                       key=lambda n: n["nodeId"])
        if len(joins) >= 2:
            return output_rows(joins[1])
    return 0.0


WORKLOADS = {"sync": sync, "lake": lake}
