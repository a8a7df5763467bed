"""The workloads: inputs from the seed, one operation, its check, and the
per-layer breakdown a traced run adds.

Why these two (README.md has the layer -> metric -> workload map):

- corpus_scan: the columnar tier (parse, keyword predicates, violation
  build, rollup exchange) plus one driver plan build per operation.
- recursive_tree: a cyclic ``$ref`` schema with default arguments, so the
  split router's probe runs and half the rows go to the interpreter tier.

The two layers without a workload of their own, ``plans.checkpoint`` and
``operators``, are probed once in each traced ``corpus_scan`` run.
"""

from __future__ import annotations

import json
import shutil
import statistics
from pathlib import Path

import pyspark.sql.functions as F

from perfbench import oracles
from perfbench.harness import median_time

# Input sizes. Full sizes keep one operation at 2-5 s on a 4-core host, so
# a timed loop holds several operations and a whole run, with session start
# and warm-up, stays under a minute; smoke sizes only prove that every path
# runs. ``sf`` sizes the operator probe's tables (lineitem = 6M x sf rows).
#
# Warm-up (``*_warmup``: input, operations): the JIT keeps speeding an
# operation up for its first 8-10 runs, whatever the input size, because
# much of what it compiles is the driver's plan build and Spark's per-query
# code, which run once per operation. Waiting for all of that does not fit
# in a run, so the warm-up takes the steep part and is counted in
# operations: every run then starts timing at the same point of the curve,
# where a warm-up counted in seconds would not on a host whose speed
# varies. corpus_scan first runs over a small slice of the same shape
# ("warm": same plan, same generated code), where an operation is short and
# leaves the JIT's compiler threads free cores, then over the timed input.
# recursive_tree's operation is mostly its single-threaded driver build,
# slice or not, so it warms up on the timed input only.
SIZES = {
    "full": {"corpus_rows": 100_000, "corpus_warm_rows": 5_000,
             "corpus_warmup": (("warm", 4), ("timed", 2)),
             "tree_rows": 8_000, "tree_warmup": (("timed", 3),), "sf": 0.02},
    "smoke": {"corpus_rows": 3_000, "corpus_warm_rows": 300,
              "corpus_warmup": (("warm", 1), ("timed", 1)),
              "tree_rows": 1_200, "tree_warmup": (("timed", 1),), "sf": 0.001},
}
CKPT_UNITS = 16
LAYER_REPEATS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def _warm_median(fn, repeats: int = LAYER_REPEATS) -> float:
    fn()
    return median_time(fn, repeats)


class Context:
    """What a workload needs from the run: session, scratch space, seed,
    sizes, and the tracing objects (inert when tracing is off)."""

    def __init__(self, spark, work: Path, seed: int, sizes: dict, nproc: int, tracer, counter) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.nproc = nproc
        self.tracer = tracer
        self.counter = counter

    def call(self, name: str, fn, count: bool = False):
        """Run ``fn`` under a span named after the layer it enters; with
        ``count``, also record the py4j roundtrips it made."""
        if not self.tracer.enabled:
            return fn()
        with self.tracer.span(name) as rec:
            if not count:
                return fn()
            out, rec["roundtrips"] = self.counter.measure(fn)
            return out


class Workload:
    """Set-up, one operation and its check; the traced run adds ``layers``
    (while Spark runs) and ``event_layers`` (from the event log)."""

    name = ""
    rows_per_op = 0

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        # "timed" and optionally "warm" -> (input frame, its oracle), and the
        # warm-up as (input, operations) pairs; both filled by setup.
        self.inputs: dict = {}
        self.warmup: tuple = ()

    def use(self, which: str) -> None:
        """Point ``op`` and ``check`` at the warm-up slice or the timed input."""
        self.df, self.expected = self.inputs[which]

    def setup(self) -> None:
        raise NotImplementedError

    def op(self):
        raise NotImplementedError

    def check(self, result) -> str | None:
        raise NotImplementedError

    def layers(self, m: dict, untraced_wall: float) -> None:
        """Fill this workload's per-layer metrics into ``m`` (Spark running)."""

    def event_layers(self, m: dict, events) -> None:
        """Fill the per-layer metrics read from the event log."""

    def plan_layers(self, m: dict, schema: dict, df, content_col: str) -> None:
        """Compiler metrics of one schema over ``df``, shared by both workloads."""
        from json_schemer_spark import compile_schema
        from json_schemer_spark.schema import columnar

        c = self.ctx
        m["compiler.compile_s"] = median_time(lambda: compile_schema(schema).is_lowerable(), 5)
        dialect = compile_schema(schema).dialect
        m["columnar.prepare_s"] = median_time(lambda: columnar.prepare(schema, dialect), 5)
        probe = columnar.build_route_probe(columnar.prepare(schema, dialect), dialect)
        if probe is not None:
            frac = df.agg(F.avg(probe(F.col(content_col)).cast("double"))).first()[0]
            m["compiler.routed_frac"] = float(frac)
        plan = compile_schema(schema)
        plan.validate_json_column(df, content_col)
        _, first = c.counter.measure(lambda: plan.validate_json_column(df, content_col))
        _, second = c.counter.measure(lambda: plan.validate_json_column(df, content_col))
        if first != second:
            raise RuntimeError(f"roundtrip self-check: two warm builds sent {first} and {second} commands")
        m["compiler.build_roundtrips"] = float(first)
        builds = c.tracer.durations("compiler.build")
        if builds:
            m["compiler.build_s"] = statistics.median(builds)


# ---------------------------------------------------------------------------

def _corpus_rollup(out):
    return out.groupBy("repo").agg(
        F.count(F.lit(1)).alias("files"),
        F.sum((~F.col("valid")).cast("long")).alias("failed"),
        F.sum(F.size("violations")).alias("violations"),
    )


class CorpusScan(Workload):
    """Flagship schema over the generated corpus, rolled up per repo."""

    name = "corpus_scan"

    def setup(self) -> None:
        from json_schemer_spark import compile_schema
        from json_schemer_spark.sources.corpus import FLAGSHIP_SCHEMA, generate_corpus

        c = self.ctx
        seed = f"perfbench-{c.seed}"
        self.rows_per_op = c.sizes["corpus_rows"]
        self.warmup = c.sizes["corpus_warmup"]
        for which, name, rows in (("timed", "corpus", self.rows_per_op),
                                  ("warm", "corpus-warm", c.sizes["corpus_warm_rows"])):
            path = str(c.work / name)
            generate_corpus(c.spark, rows, seed=seed, partitions=2 * c.nproc).write.parquet(path)
            df = c.spark.read.parquet(path)
            self.inputs[which] = (df, oracles.corpus_rollup(df, seed))
        self.schema = FLAGSHIP_SCHEMA
        self.plan = compile_schema(FLAGSHIP_SCHEMA)

    def op(self):
        out = self.ctx.call(
            "compiler.build", lambda: self.plan.validate_json_column(self.df, "content"), count=True)
        return self.ctx.call("execute", lambda: _corpus_rollup(out).collect())

    def check(self, rows) -> str | None:
        got = {r.repo: (r.files, r.failed, r.violations) for r in rows}
        if got != self.expected:
            bad = sum(1 for k in set(got) | set(self.expected) if got.get(k) != self.expected.get(k))
            return f"corpus_scan: {bad} repos differ from the defect-hash oracle"
        return None

    def layers(self, m: dict, untraced_wall: float) -> None:
        self.plan_layers(m, self.schema, self.df, "content")
        out = self.plan.validate_json_column(self.df, "content")
        rungs = {
            "columnar.scan_s": lambda: _noop(self.df.select("content")),
            "columnar.parse_s": lambda: _noop(self.df.select(F.try_parse_json("content").alias("v"))),
            "columnar.verdict_s": lambda: _noop(out.select("valid")),
            "columnar.violations_s": lambda: _noop(out.select("valid", "violations")),
            "columnar.rollup_s": lambda: _corpus_rollup(out).collect(),
        }
        for name, fn in rungs.items():
            with self.ctx.tracer.span(name):
                m[name] = _warm_median(fn)
        rebuilt = m["compiler.build_s"] + m["columnar.rollup_s"]
        m["columnar.ladder_gap_frac"] = abs(rebuilt - untraced_wall) / untraced_wall
        failed = sum(v[1] for v in self.expected.values())
        checkpoint_probe(self.ctx, self.df, self.schema, failed, m)
        operator_probe(self.ctx, m)

    def event_layers(self, m: dict, events) -> None:
        def jobs(name):
            spans = [s for s in self.ctx.tracer.spans if s["name"] == name]
            return statistics.mean(len(events.jobs_in(s["start"], s["end"])) for s in spans) if spans else 0.0

        m["checkpoint.jobs"] = jobs("checkpoint.run")
        for q in OPERATOR_QUERIES:
            m[f"operators.{q}_jobs"] = jobs(f"operators.{q}")


# ---------------------------------------------------------------------------

def tree_docs(spark, n_rows: int, seed: int, partitions: int):
    """Documents of depth ``id % 6``: nested flagship-shaped nodes linked by
    ``next``. Node sizes follow :func:`oracles.tree_size`."""
    node = f"""
        concat(
          '{{"name":"pkg_', cast(pmod(id * 31 + i * 7, 100000) as string),
          '","size":', cast(pmod(id * 7919 + i * 104729 + {oracles.tree_offset(seed)}, 1050000) - 25000 as string),
          ',"lang":"', element_at(array('json','yaml','py','rb','js','go','md'), cast(pmod(id + i, 7) + 1 as int)),
          '","stars":', cast(pmod(id * 13 + i, 5000) as string),
          ',"tags":["t', cast(pmod(id + i * 3, 50) as string), '","t', cast(pmod(id * 3 + i, 50) as string),
          '"],"meta":{{"license":"mit","forks":', cast(pmod(id + i, 900) as string), '}}',
          if(acc = '', '', concat(',"next":', acc)),
          '}}')
    """
    return spark.range(0, n_rows, 1, partitions).select(
        F.col("id"),
        (F.col("id") % 6).cast("int").alias("depth"),
        F.expr(f"aggregate(sequence(id % 6, 0L, -1L), cast('' as string), (acc, i) -> {node})").alias("doc"),
    )


def _identity_batches(batches):
    yield from batches


def _loads_batches(batches):
    for pdf in batches:
        for raw in pdf["doc"]:
            json.loads(raw)
        yield pdf


class RecursiveTree(Workload):
    """Cyclic-``$ref`` schema with flagship-sized nodes, default call shape."""

    name = "recursive_tree"

    def setup(self) -> None:
        from json_schemer_spark import compile_schema
        from json_schemer_spark.sources.corpus import FLAGSHIP_SCHEMA

        c = self.ctx
        self.rows_per_op = c.sizes["tree_rows"]
        self.warmup = c.sizes["tree_warmup"]
        path = str(c.work / "tree")
        tree_docs(c.spark, self.rows_per_op, c.seed, 2 * c.nproc).write.parquet(path)
        self.inputs["timed"] = (c.spark.read.parquet(path), oracles.tree_rollup(self.rows_per_op, c.seed))
        self.schema = {**FLAGSHIP_SCHEMA,
                       "properties": {**FLAGSHIP_SCHEMA["properties"], "next": {"$ref": "#"}}}
        self.plan = compile_schema(self.schema)

    def op(self):
        out = self.ctx.call(
            "compiler.build", lambda: self.plan.validate_json_column(self.df, "doc"), count=True)
        return self.ctx.call(
            "execute", lambda: out.groupBy("depth", "valid").agg(F.count(F.lit(1)).alias("n")).collect())

    def check(self, rows) -> str | None:
        got = {(r.depth, r.valid): r.n for r in rows}
        if got != self.expected:
            return f"recursive_tree: verdict counts {sorted(got.items())} != oracle {sorted(self.expected.items())}"
        return None

    def layers(self, m: dict, untraced_wall: float) -> None:
        from json_schemer_spark.schema.interpreter import Evaluator

        self.plan_layers(m, self.schema, self.df, "doc")
        schema = self.df.schema
        full = self.plan.validate_json_column(self.df, "doc", force_interpreter=True)
        with self.ctx.tracer.span("interpreter.split"):
            arrow = _warm_median(lambda: _noop(self.df.mapInPandas(_identity_batches, schema)))
            loads = _warm_median(lambda: _noop(self.df.mapInPandas(_loads_batches, schema)))
            whole = _warm_median(lambda: _noop(full.select("valid", "violations")))
        m["interpreter.arrow_s"] = arrow
        m["interpreter.loads_s"] = loads - arrow
        m["interpreter.eval_s"] = whole - loads
        sample = [json.loads(r.doc) for r in self.df.orderBy("id").limit(2_000).collect()]
        ev = Evaluator(self.schema)
        with self.ctx.tracer.span("interpreter.driver_eval"):
            t = _warm_median(lambda: [ev.validate(d) for d in sample])
        m["interpreter.docs_per_s"] = len(sample) / t


# ---------------------------------------------------------------------------

def checkpoint_probe(ctx: Context, corpus, schema: dict, expected_failed: int, m: dict) -> None:
    """One ``CheckpointedRun.run`` over the corpus into a fresh ledger, in the
    call shape of ``validate.py --ledger``: one compiled plan, one
    ``validate_json_column`` per unit. Fills the ``checkpoint.*`` metrics
    and checks the ledger against the corpus oracle."""
    import pyarrow.parquet as pq

    from json_schemer_spark import compile_schema
    from json_schemer_spark.plans.checkpoint import CheckpointedRun

    base = ctx.work / "ckpt"
    plan = compile_schema(schema)
    runner = CheckpointedRun(ctx.spark, str(base / "ledger"), str(base / "out"), n_units=CKPT_UNITS)
    with ctx.tracer.span("checkpoint.run"):
        summary = runner.run(corpus, lambda part: plan.validate_json_column(part, "content"))
    ledger = pq.read_table(str(base / "ledger")).to_pydict()
    written = _dir_bytes(base)
    shutil.rmtree(base, ignore_errors=True)
    rows = sum(ledger["n_rows"])
    if sorted(ledger["unit"]) != list(range(CKPT_UNITS)):
        raise RuntimeError(f"checkpoint ledger lists units {sorted(ledger['unit'])}")
    if summary["rows"] != rows or summary["failed"] != expected_failed or sum(ledger["n_failed"]) != expected_failed:
        raise RuntimeError(f"checkpoint summary {summary} / ledger failed {sum(ledger['n_failed'])} "
                           f"!= oracle failed {expected_failed}")
    walls = sorted(ledger["wall_sec"])
    m["checkpoint.unit_p50_s"] = statistics.median(walls)
    m["checkpoint.unit_p90_s"] = walls[min(len(walls) - 1, int(0.9 * len(walls)))]
    m["checkpoint.bytes_written"] = float(written)
    m["checkpoint.write_amp"] = written / _dir_bytes(ctx.work / "corpus")


# ---------------------------------------------------------------------------

OPERATOR_QUERIES = (
    "q02_constraint_violations",
    "q06_referential_orphans",
    "q07_duplicate_keys",
    "q11_psi_drift",
    "q32_numeric_quantiles",
    "q37_hll_profile",
)


def _h(seed: int, tag: str, mod: int):
    return F.pmod(F.xxhash64(F.lit(f"{seed}-{tag}"), F.col("id")), F.lit(mod))


def operator_tables(spark, sf: float, seed: int, partitions: int) -> dict:
    """TPC-H-shaped tables with the columns the operator queries read,
    sized like the sf tables (lineitem = 6M x sf rows)."""
    n_orders = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    rng = lambda n: spark.range(0, n, 1, partitions)  # noqa: E731
    flags = F.array(F.lit("A"), F.lit("N"), F.lit("R"))
    status = F.array(F.lit("F"), F.lit("O"), F.lit("P"))
    prio = F.array(*[F.lit(p) for p in ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")])
    return {
        "lineitem": rng(int(6_000_000 * sf)).select(
            (F.col("id") / 4).cast("long").alias("l_orderkey"),
            (F.col("id") % 4 + 1).cast("int").alias("l_linenumber"),
            (_h(seed, "qty", 50) + 1).cast("double").alias("l_quantity"),
            ((_h(seed, "price", 10_410_000) + 90_000) / 100.0).cast("double").alias("l_extendedprice"),
            (_h(seed, "disc", 11) / 100.0).cast("double").alias("l_discount"),
            F.element_at(flags, (_h(seed, "flag", 3) + 1).cast("int")).alias("l_returnflag"),
        ),
        "orders": rng(n_orders).select(
            F.col("id").alias("o_orderkey"),
            _h(seed, "cust", n_cust).alias("o_custkey"),
            F.element_at(status, (_h(seed, "status", 3) + 1).cast("int")).alias("o_orderstatus"),
            F.element_at(prio, (_h(seed, "prio", 5) + 1).cast("int")).alias("o_orderpriority"),
        ),
        "customer": rng(n_cust).select(F.col("id").alias("c_custkey")),
        "part": rng(int(200_000 * sf)).select(
            F.col("id").alias("p_partkey"),
            F.concat(F.lit("Brand#"), (_h(seed, "brand", 25) + 1).cast("string")).alias("p_brand"),
            (_h(seed, "size", 50) + 1).cast("int").alias("p_size"),
        ),
    }


def operator_probe(ctx: Context, m: dict) -> None:
    """The north-rule constraint operators through ``queries()``: one
    checked warm-up and ``LAYER_REPEATS`` timed runs of each query over
    seeded TPC-H-shaped tables. Fills the ``operators.*`` metrics; a result
    that differs from DuckDB running ``oracle_sql()`` raises."""
    import __spark_entry__ as entry

    sf_dir = str(ctx.work / "sf")
    tables = operator_tables(ctx.spark, ctx.sizes["sf"], ctx.seed, 2 * ctx.nproc)
    for name, df in tables.items():
        df.write.parquet(f"{sf_dir}/{name}.parquet")
    expected = oracles.duckdb_digests(sf_dir, OPERATOR_QUERIES, list(tables))
    queries = entry.queries()
    for q in OPERATOR_QUERIES:
        times = []
        for i in range(LAYER_REPEATS + 1):
            with ctx.tracer.span(f"operators.{q}" if i else "operators.warmup") as rec:
                got = oracles.frame_digest_spark(queries[q](ctx.spark, sf_dir))
            if not oracles.digests_match(got, expected[q]):
                raise RuntimeError(f"{q}: result digest {got} != DuckDB oracle {expected[q]}")
            if i:
                times.append(rec["end"] - rec["start"])
        m[f"operators.{q}_s"] = statistics.median(times)


WORKLOADS = {w.name: w for w in (CorpusScan, RecursiveTree)}
