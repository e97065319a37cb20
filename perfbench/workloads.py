"""The benchmark's workloads: what one op is, how a pass is ordered,
and how each op's output is checked.

Every op is split the way the engine splits work: ``build`` is the
Python call that returns the DataFrame (for the chain and streaming
queries it runs eager Spark actions), ``final`` executes the returned
plan. ``check`` runs once per run on the outputs of the first warm-up
pass, outside every timed region.
"""

from __future__ import annotations

import math
import os
import random
import shutil
from dataclasses import dataclass

import ingest_docs

# The query_mix ops. Relational queries (join, rollup, window, JSON
# functions), read-only to the noop sink: per-query fixed cost (plan
# build, Catalyst, job launch) dominates at this scale.
RELATIONAL = ("c2_join_smj", "d5_agg_rollup", "e3_win_running", "h6_fn_json")
# Orchestration-bound ops whose jobs run inside the query function: an
# eager materialize/collect chain, and a Structured Streaming query
# (file source, scoped stream confs, state store, Python stateful
# worker) that runs its micro-batches there.
CHAINS = ("j47_pagerank",)
STREAMING = ("i6_stateful",)
INGEST_DOCS = 2500  # documents per hbase_ingest op (one op per shape)
N_REGIONS = 16


@dataclass
class Op:
    name: str
    build: object  # (spark) -> DataFrame
    final: object  # (spark, DataFrame) -> None


class Workload:
    """A named op list; ``order()`` is the seeded op order of the next pass."""

    name = ""

    def __init__(self, seed: int, fixture_dir: str, work_dir: str):
        self.seed = seed
        self.fixture_dir = fixture_dir
        self.work_dir = work_dir
        self.ops: list[Op] = []
        self._rng = random.Random(seed)

    def order(self) -> list[Op]:
        return self._rng.sample(self.ops, len(self.ops))

    def collect(self, spark, op: Op, df):
        """Untimed warm-up execution that keeps what ``check`` needs."""
        return df.toPandas()

    def check(self, results: dict) -> dict[str, str]:
        """op name -> problem, for every op whose output is wrong."""
        raise NotImplementedError

    def after_op(self, op: Op) -> str | None:
        """Cheap per-op output check after a timed op, or None."""
        return None


def _noop(spark, df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryMix(Workload):
    """Registered queries against the generated fixture tables, each
    executed to the noop sink and checked against its DuckDB oracle."""

    name = "query_mix"
    names = RELATIONAL + CHAINS + STREAMING

    def __init__(self, seed, fixture_dir, work_dir):
        super().__init__(seed, fixture_dir, work_dir)
        from json2hbase_spark import registry

        registry.load_all_query_modules()
        self.registry = registry
        for n in self.names:
            fn = registry.QUERIES[n]
            self.ops.append(Op(n, lambda spark, fn=fn: fn(spark, fixture_dir), _noop))

    def check(self, results):
        from tools.oracle_check import compare, duck_connection

        con = duck_connection(self.fixture_dir)
        problems = {}
        for name, pdf in results.items():
            oracle = self.registry.ORACLES.get(name)
            if oracle is None:
                if len(pdf) == 0:
                    problems[name] = "no rows"
                continue
            real = [p for p in compare(name, pdf, con.execute(oracle).fetchdf()) if not p.startswith("WARN-ONLY")]
            if real:
                problems[name] = "; ".join(real[:3])
        con.close()
        return problems


class HBaseIngest(Workload):
    """json2hbase's ETL path with writes: JSONL read with an explicit
    schema -> salted rowkey -> kv_flatten -> region-sorted HBase cells.
    One op per document shape; the seed generates the documents."""

    name = "hbase_ingest"

    def __init__(self, seed, fixture_dir, work_dir):
        super().__init__(seed, fixture_dir, work_dir)
        self.docs: dict[str, list[dict]] = {}
        self.expected_cells: dict[str, int] = {}
        self._out_no = 0
        for shape in ingest_docs.SHAPES:
            docs = ingest_docs.generate(shape, seed, INGEST_DOCS)
            path = os.path.join(work_dir, f"in_{shape}.jsonl")
            ingest_docs.write_jsonl(path, docs)
            schema = ingest_docs.SCHEMAS[shape]
            self.docs[shape] = docs
            self.expected_cells[shape] = sum(len(ingest_docs.reference_cells(d, schema)) for d in docs)
            self.ops.append(Op(
                shape,
                lambda spark, path=path, schema=schema: self._build(spark, path, schema),
                self._write,
            ))

    @staticmethod
    def _build(spark, path, schema):
        from json2hbase_spark.operators.flatten import kv_flatten
        from json2hbase_spark.operators.hbase import derive_rowkey

        keyed = spark.read.schema(schema).json(path).withColumn(
            "__rowkey", derive_rowkey("id", salt_len=ingest_docs.SALT_LEN)
        )
        return kv_flatten(keyed, "__rowkey", cf="d")

    def _fresh_dir(self) -> str:
        self._out_no += 1
        return os.path.join(self.work_dir, f"out_{self._out_no:05d}")

    def _write(self, spark, kv) -> None:
        from json2hbase_spark.operators.hbase import write_hbase_emulated

        self.last_out = self._fresh_dir()
        write_hbase_emulated(kv, self.last_out, n_regions=N_REGIONS)

    def collect(self, spark, op, df):
        self._write(spark, df)
        return self.last_out

    def after_op(self, op):
        out, self.last_out = self.last_out, None
        try:
            n = _parquet_rows(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        want = self.expected_cells[op.name]
        return None if n == want else f"{n} cells written, {want} expected"

    def check(self, results):
        problems = {}
        rng = random.Random(f"sample:{self.seed}")
        for shape, out in results.items():
            try:
                problems_here = self._check_output(shape, out, rng)
            finally:
                shutil.rmtree(out, ignore_errors=True)
            if problems_here:
                problems[shape] = problems_here
        return problems

    def _check_output(self, shape: str, out: str, rng: random.Random) -> str | None:
        import pyarrow.parquet as pq

        files = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
        schema = ingest_docs.SCHEMAS[shape]
        docs = self.docs[shape]
        sample = {ingest_docs.rowkey(d["id"]): d for d in rng.sample(docs, min(200, len(docs)))}
        got, n_cells = [], 0
        bounds = []
        for f in files:
            t = pq.read_table(os.path.join(out, f), columns=["rowkey", "cf", "qualifier", "value"])
            rows = list(zip(*(t.column(c).to_pylist() for c in ("rowkey", "cf", "qualifier", "value"))))
            if not rows:
                continue
            n_cells += len(rows)
            keys = [r[:3] for r in rows]
            if keys != sorted(keys):
                return f"region file {f} is not sorted by (rowkey, cf, qualifier)"
            bounds.append((rows[0][0], rows[-1][0]))
            got.extend(r for r in rows if r[0] in sample)
        if n_cells != self.expected_cells[shape]:
            return f"{n_cells} cells written, {self.expected_cells[shape]} expected"
        bounds.sort()
        if any(hi >= lo for (_, hi), (lo, _) in zip(bounds, bounds[1:])):
            return "region key ranges overlap"
        want = [(rk, "d", q, v) for rk, d in sample.items() for q, v in ingest_docs.reference_cells(d, schema)]
        if ingest_docs.cells_digest(got) != ingest_docs.cells_digest(want):
            return "sampled rowkeys' cells differ from the reference flattening"
        return None


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


WORKLOADS = {w.name: w for w in (HBaseIngest, QueryMix)}


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
