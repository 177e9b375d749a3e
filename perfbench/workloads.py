"""The three benchmark workloads.

Each workload makes its inputs from the seed, lands them as parquet in the
run's temp directory, and then runs a fixed number of unit ops through the
program's public entry points:

- ``medallion_build``: one ``build_registry(raw).run(spark)`` over
  parquet-landed ``pipeline.fixtures.raw_tables``.
- ``incremental_merge``: one ``plans.incremental.write_incremental``
  ``merge_delete`` micro-batch, then a point lookup, a range scan and a
  ``read_version(steps_back=1)`` on the store.
- ``llm_curation``: one pass over six ``queries()`` curation keys on a
  seeded ``documents`` table, in an order the seed permutes per pass.

``op(i)`` returns an :class:`OpResult`; ``check()`` runs the output checks
that are too costly for the timed window and returns what failed.
"""

from __future__ import annotations

import datetime as dt
import math
import random
import sys
import time
from dataclasses import dataclass, field
from decimal import Decimal
from pathlib import Path

from harness import Tracer, noop_sink


@dataclass
class OpResult:
    latency: float
    rows: int
    errors: list[str] = field(default_factory=list)
    reads: list[float] = field(default_factory=list)
    stats: dict[str, float] = field(default_factory=dict)


def parquet_bytes(path: Path | str) -> int:
    """Bytes of the parquet data files under ``path`` (no checksums/markers)."""
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))


class Workload:
    name = ""
    warmup_ops = 0
    nominal_op_s = 1.0  # sizes the timed window: ops = seconds / nominal_op_s
    min_ops = 1

    def __init__(self, spark, tmp: Path, seed: int, tracer: Tracer) -> None:
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.tracer = tracer

    def ops_for(self, seconds: int) -> int:
        return max(self.min_ops, round(seconds / self.nominal_op_s))

    def land(self, n_ops: int) -> None:
        """Make and land the inputs for ``n_ops`` timed ops (after warm-up)."""
        raise NotImplementedError

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def check(self) -> list[str]:
        return []


# ------------------------------------------------------------ medallion_build


MEDALLION_SCALE = 1.0
GOLDEN_SEED, GOLDEN_SCALE = 42, 0.2
LAYERS = ("bronze", "silver", "gold")


def medallion_summary(outputs: dict) -> list[tuple]:
    """(model, n_cols, n_rows, checksum) per model, as the program's
    ``pipeline_medallion`` key defines it: an order-invariant xxhash64 sum
    over the exact-typed columns, minus the documented LAG columns.

    A copy of the per-output summary in
    ``dbt_pro3_spark.queries.core_extra.medallion_summary``, which builds the
    registry itself and so cannot take these outputs. It must track that
    function: a change to its exclusions, type filter or checksum fold has
    to be made here too, or the golden check compares different things."""
    from pyspark.sql import functions as F

    from dbt_pro3_spark.queries.core_extra import _MEDALLION_CHECKSUM_EXCLUDE

    parts = []
    for name in sorted(outputs):
        df = outputs[name]
        skip = _MEDALLION_CHECKSUM_EXCLUDE.get(name, set())
        cols = [
            f.name for f in df.schema.fields
            if f.name not in skip and f.dataType.typeName() not in ("double", "float")
        ]
        parts.append(
            df.select(
                F.lit(name).alias("model"),
                F.lit(len(df.columns)).cast("bigint").alias("n_cols"),
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(
                    F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).cast("string").alias("checksum"),
            )
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return sorted(tuple(r) for r in union.collect())


class _RowsOnly:
    """Stands in for a SparkSession: ``createDataFrame`` hands back the rows
    and schema string, so ``raw_tables`` yields its data without a JVM."""

    def createDataFrame(self, rows, schema):  # noqa: N802 - SparkSession's name
        return rows, schema


def land_raw_tables(seed: int, scale: float, where: Path) -> int:
    """Write ``pipeline.fixtures.raw_tables(seed, scale)`` as one parquet file
    per table with pyarrow: the same rows and Spark types, without pickling
    ~20k rows through Python workers in a cold JVM (~15 s of set-up)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_pro3_spark.pipeline.fixtures import raw_tables

    types = {
        "string": pa.string(), "double": pa.float64(), "int": pa.int32(),
        "bigint": pa.int64(), "date": pa.date32(), "boolean": pa.bool_(),
        # naive datetimes are UTC instants: the session time zone is UTC
        "timestamp": pa.timestamp("us", tz="UTC"),
    }
    where.mkdir(parents=True)
    n_rows = 0
    for name, (rows, schema) in raw_tables(_RowsOnly(), seed=seed, scale=scale).items():
        n_rows += len(rows)
        fields = [f.split() for f in schema.split(",")]
        cols = list(zip(*rows))
        table = pa.table({n: pa.array(c, type=types[t]) for (n, t), c in zip(fields, cols)})
        pq.write_table(table, str(where / f"{name}.parquet"))
    return n_rows


class MedallionBuild(Workload):
    """The unit op is the registry run: every model is executed by its audit
    post-hook count and the silver models by their schema tests. Traced ops
    time each layer's DAG wave inside the run (see ``_layer_spans``).
    Warm-up starts with a build of the golden fixtures (seed 42, scale 0.2),
    whose outputs ``check`` compares with the pinned summary."""

    name = "medallion_build"
    warmup_ops = 1
    nominal_op_s = 4.0
    min_ops = 3

    def _load(self, where: Path) -> dict:
        from dbt_pro3_spark.sources.readers import load

        names = ("raw_customers", "raw_policies", "raw_claims", "raw_premiums")
        out = {}
        for n in names:
            with self.tracer.span("sources.load"):
                out[n] = load(self.spark, str(where), n)
        return out

    def land(self, n_ops: int) -> None:
        self.raw_dir = self.tmp / "raw"
        self.golden_dir = self.tmp / "golden"
        with self.tracer.span("pipeline.fixtures"):
            self.raw_rows = land_raw_tables(self.seed, MEDALLION_SCALE, self.raw_dir)
            land_raw_tables(GOLDEN_SEED, GOLDEN_SCALE, self.golden_dir)
        self.audit = None
        self.golden = None

    def _layer_spans(self, reg) -> None:
        """Open a ``pipeline.<layer>`` span around each of the registry's DAG
        waves: ``run`` asks ``topo_order`` for the waves and builds them in
        turn, so a generator that opens a span before it yields a wave and
        closes it when the next one is asked for times exactly that wave
        (model functions, audit counts), and none of the schema tests."""
        waves = type(reg).topo_order(reg)
        if len(waves) != len(LAYERS) or not all(
            all(layer in name for name in wave) for layer, wave in zip(LAYERS, waves)
        ):
            raise RuntimeError(f"registry waves {waves} are not one per layer {LAYERS}")
        tracer = self.tracer

        def topo_order():
            for layer, wave in zip(LAYERS, waves):
                with tracer.span(f"pipeline.{layer}"):
                    yield wave

        reg.topo_order = topo_order

    def op(self, i: int) -> OpResult:
        from dbt_pro3_spark.pipeline import build_registry

        golden = i == -1  # the first warm-up op builds the golden fixtures
        t0 = time.perf_counter()
        with self.tracer.span("op"):
            raw = self._load(self.golden_dir if golden else self.raw_dir)
            reg = build_registry(raw)
            if self.tracer.enabled:
                self._layer_spans(reg)
            with self.tracer.span("plans.registry.run"):
                result = reg.run(self.spark)
        lat = time.perf_counter() - t0
        errors = [f"schema test failed: {f}" for f in result.test_failures]
        if len(result.audit) != 12:
            errors.append(f"{len(result.audit)} audit rows, expected 12")
        if golden:
            self.golden = result
            return OpResult(lat, 0, errors)
        audit = sorted((a["dataset"], a["source_records"], a["target_records"]) for a in result.audit)
        if self.audit is not None and audit != self.audit:
            errors.append("audit rows differ from the first build's")
        self.audit = audit
        return OpResult(lat, self.raw_rows, errors)

    def check(self) -> list[str]:
        """The golden build's summary against ``_MEDALLION_GOLDEN``, and its
        audit rows against the row counts in that summary."""
        from dbt_pro3_spark.queries.core_extra import _MEDALLION_GOLDEN

        got = medallion_summary(self.golden.outputs)
        want = sorted(tuple(g) for g in _MEDALLION_GOLDEN)
        errors = [f"golden summary: {g} != {w}" for g, w in zip(got, want) if g != w]
        if len(got) != len(want):
            errors.append(f"golden summary has {len(got)} models, expected {len(want)}")
        rows = {g[0]: g[2] for g in got}
        errors += [
            f"audit {a['dataset']}: {a['target_records']} != {rows.get(a['dataset'])} rows"
            for a in self.golden.audit
            if a["target_records"] != rows.get(a["dataset"])
        ]
        return errors


# ---------------------------------------------------------- incremental_merge


STORE_KEYS = 20_000
BATCH_ROWS = 2_000
NEW_SHARE, TOMBSTONE_SHARE = 0.05, 0.05
RANGE_WIDTH = 400


class IncrementalMerge(Workload):
    name = "incremental_merge"
    warmup_ops = 4
    nominal_op_s = 1.6
    min_ops = 8

    def _gen(self) -> None:
        """All batches, and what each read after batch b must return.

        Batch 0 preloads STORE_KEYS keys. Every later batch holds BATCH_ROWS
        distinct keys: updates biased toward recent keys, NEW_SHARE new keys
        and TOMBSTONE_SHARE deletes of uniformly chosen live keys, so the
        live table stays near STORE_KEYS rows.
        """
        rng = random.Random(self.seed)
        cols = {c: [] for c in ("batch", "key", "ver", "name", "amount", "qty", "tombstone")}
        state: dict[int, tuple] = {}

        def emit(b: int, key: int, dead: bool) -> None:
            row = (b, f"n{rng.randrange(10**6)}", round(rng.uniform(0, 1000), 2), rng.randrange(100))
            for c, v in zip(("batch", "key", "ver", "name", "amount", "qty", "tombstone"),
                            (b, key, *row, dead)):
                cols[c].append(v)
            if dead:
                state.pop(key, None)
            else:
                state[key] = (key, *row, False)

        for k in range(STORE_KEYS):
            emit(0, k, False)
        next_key = STORE_KEYS
        self.expect = []
        n_new = int(BATCH_ROWS * NEW_SHARE)
        n_dead = int(BATCH_ROWS * TOMBSTONE_SHARE)
        n_upd = BATCH_ROWS - n_new - n_dead
        for b in range(1, self.n_batches + 1):
            before = len(state)
            chosen: set[int] = set()
            while len(chosen) < n_upd:
                k = next_key - 1 - int(rng.expovariate(4.0 / STORE_KEYS))
                if k in state and k not in chosen:
                    chosen.add(k)
            dead: set[int] = set()
            while len(dead) < n_dead:
                k = rng.randrange(next_key)
                if k in state and k not in chosen and k not in dead:
                    dead.add(k)
            for k in sorted(chosen):
                emit(b, k, False)
            for k in range(next_key, next_key + n_new):
                emit(b, k, False)
            next_key += n_new
            for k in sorted(dead):
                emit(b, k, True)
            point = rng.choice(sorted(chosen | dead))
            lo = rng.randrange(max(1, next_key - RANGE_WIDTH))
            self.expect.append(
                {
                    "point": point,
                    "point_row": state.get(point),
                    "range": (lo, lo + RANGE_WIDTH - 1),
                    "range_keys": [k for k in range(lo, lo + RANGE_WIDTH) if k in state],
                    "prev_rows": before,
                }
            )
        self.columns = cols

    def land(self, n_ops: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from dbt_pro3_spark.plans.incremental import write_incremental

        self.n_batches = self.warmup_ops + n_ops
        self._gen()
        self.batch_dir = self.tmp / "batches"
        table = pa.table(self.columns).drop_columns(["batch"])
        for b in range(self.n_batches + 1):
            lo = 0 if b == 0 else STORE_KEYS + (b - 1) * BATCH_ROWS
            n = STORE_KEYS if b == 0 else BATCH_ROWS
            where = self.batch_dir / f"batch={b}"
            where.mkdir(parents=True)
            pq.write_table(table.slice(lo, n), str(where / "part-0.parquet"))
        self.store = str(self.tmp / "store")
        with self.tracer.span("plans.incremental.write"):
            write_incremental(
                self.spark, self.store, self._batch(0), "merge_delete",
                unique_key="key", order_col="ver", delete_col="tombstone",
            )
        self.next_batch = 1

    def _batch(self, b: int):
        return self.spark.read.parquet(str(self.batch_dir / f"batch={b}"))

    def op(self, i: int) -> OpResult:
        from pyspark.sql import functions as F

        from dbt_pro3_spark.plans.incremental import (
            read_incremental, read_version, write_incremental,
        )

        b = self.next_batch
        self.next_batch += 1
        exp = self.expect[b - 1]
        batch = self._batch(b)
        errors: list[str] = []
        with self.tracer.span("op"):
            t0 = time.perf_counter()
            with self.tracer.span("plans.incremental.write"):
                write_incremental(
                    self.spark, self.store, batch, "merge_delete",
                    unique_key="key", order_col="ver", delete_col="tombstone",
                )
            t1 = time.perf_counter()
            with self.tracer.span("plans.incremental.read"):
                cur = read_incremental(self.spark, self.store)
                point = cur.filter(F.col("key") == exp["point"]).collect()
            t2 = time.perf_counter()
            with self.tracer.span("plans.incremental.read"):
                lo, hi = exp["range"]
                rng_rows = cur.filter(F.col("key").between(lo, hi)).select("key").collect()
            t3 = time.perf_counter()
            with self.tracer.span("plans.incremental.read_version"):
                prev = read_version(self.spark, self.store, steps_back=1).count()
            t4 = time.perf_counter()
        got_point = tuple(point[0]) if point else None
        if len(point) > 1 or got_point != exp["point_row"]:
            errors.append(f"batch {b}: point lookup {point} != {exp['point_row']}")
        if sorted(r["key"] for r in rng_rows) != exp["range_keys"]:
            errors.append(f"batch {b}: range scan returned {len(rng_rows)} keys")
        if prev != exp["prev_rows"]:
            errors.append(f"batch {b}: previous version has {prev} rows, expected {exp['prev_rows']}")
        version = Path(self.store) / (Path(self.store) / "_CURRENT").read_text().strip()
        written = parquet_bytes(version)
        batch_bytes = parquet_bytes(self.batch_dir / f"batch={b}")
        store_bytes = parquet_bytes(self.store)
        return OpResult(
            t1 - t0, BATCH_ROWS, errors, reads=[t2 - t1, t3 - t2, t4 - t3],
            stats={
                "write_amp": written / batch_bytes,
                "space_amp": store_bytes / written,
                "bytes_written": written,
                "store_bytes": store_bytes,
            },
        )

    def check(self) -> list[str]:
        """Final store == latest-wins-with-tombstones over every batch applied."""
        from dbt_pro3_spark.plans.incremental import read_incremental

        c = self.columns
        win: dict[int, tuple] = {}
        for r in zip(c["batch"], c["key"], c["ver"], c["name"], c["amount"], c["qty"], c["tombstone"]):
            if r[0] < self.next_batch and (r[1] not in win or r[2] >= win[r[1]][1]):
                win[r[1]] = r[1:]
        want = sorted(r for r in win.values() if not r[-1])
        got = sorted(
            tuple(r) for r in read_incremental(self.spark, self.store)
            .select("key", "ver", "name", "amount", "qty", "tombstone").collect()
        )
        if got != want:
            return [f"final store has {len(got)} rows, recompute has {len(want)}; contents differ"]
        return []


# --------------------------------------------------------------- llm_curation


CURATION_KEYS = (
    "ext_quality_filter",
    "ext_dedup_exact",
    "ext_dedup_minhash_banded",
    "ext_text_decontaminate",
    "ext_text_chunk",
    "ext_text_pack",
)
# The shape of the ``documents`` table in the program's sf0.1 test data,
# measured on that file: 5,000 rows; doc_id 0..4999; each text is 10-100
# tokens (uniform, median 54) drawn uniformly from the 30 words below; 250
# rows (5%) are another row's text plus the token "dup" (a copy of a copy
# gets "dup dup"), and the few pairs of copies of one row are the table's 8
# exact duplicates; lang is en 41%, zh/es/fr/de ~15% each; source is
# "src{doc_id % 20}"; n_chars is the text's length.
N_DOCS = 5_000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
TOKENS = (10, 100)
COPY_SHARE = 0.05
LANGS = (("en", 0.4), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.15))


def gen_documents(seed: int, n: int) -> dict[str, list]:
    """A seeded corpus with the measured shape of ``documents`` (above)."""
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choices(VOCAB, k=rng.randint(*TOKENS))) for _ in range(n)
    ]
    for i in sorted(rng.sample(range(n), round(n * COPY_SHARE))):
        texts[i] = texts[rng.randrange(n)] + " dup"
    langs, weights = zip(*LANGS)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": rng.choices(langs, weights, k=n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (float, Decimal, int)) and isinstance(b, (float, Decimal, int)):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dt.datetime) and isinstance(b, dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


def _sort_key(v) -> tuple:
    # numbers are sorted by a rounded image, so last-bit differences between
    # the two engines cannot reorder the rows being compared
    if isinstance(v, (float, Decimal)):
        return (False, f"{float(v):.6f}")
    return (v is None, str(v))


def _canon(cols: list[str], rows: list) -> list[tuple]:
    """Rows with columns in name order, sorted: an order-insensitive form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(r[i] for i in order) for r in rows),
        key=lambda r: tuple(_sort_key(v) for v in r),
    )


class LlmCuration(Workload):
    name = "llm_curation"
    warmup_ops = 1
    nominal_op_s = 8.5
    min_ops = 2

    def land(self, n_ops: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from dbt_pro3_spark.queries import all_oracle, all_queries

        self.docs_dir = self.tmp / "docs"
        self.docs_dir.mkdir()
        pq.write_table(
            pa.table(gen_documents(self.seed, N_DOCS)), str(self.docs_dir / "documents.parquet")
        )
        queries = all_queries()
        self.queries = {k: queries[k] for k in CURATION_KEYS}
        self.oracle = {k: all_oracle()[k] for k in CURATION_KEYS}
        self.rng = random.Random(self.seed)
        self.kept: dict[str, tuple] | None = None
        if self.tracer.run_traced:
            self._trace_loads()

    def _trace_loads(self) -> None:
        """Wrap the ``sources.readers.load`` the query modules call in a span."""
        from dbt_pro3_spark.sources import readers

        orig, tracer = readers.load, self.tracer

        def load(*a, **kw):
            with tracer.span("sources.load"):
                return orig(*a, **kw)

        for name, mod in list(sys.modules.items()):
            if name.startswith("dbt_pro3_spark.queries") and getattr(mod, "load", None) is orig:
                mod.load = load

    def op(self, i: int) -> OpResult:
        """One pass. The first warm-up pass (op -1) collects each result for
        ``check`` instead of discarding it."""
        keep = i == -1
        if keep:
            self.kept = {}
        order = self.rng.sample(CURATION_KEYS, len(CURATION_KEYS))
        sf_dir = str(self.docs_dir)
        t0 = time.perf_counter()
        with self.tracer.span("queries.pass"):
            for key in order:
                with self.tracer.span(f"queries.{key}"):
                    with self.tracer.span("queries.build"):
                        df = self.queries[key](self.spark, sf_dir)
                    with self.tracer.span("queries.exec"):
                        if keep:
                            self.kept[key] = (df.columns, df.collect())
                        else:
                            noop_sink(df)
        lat = time.perf_counter() - t0
        if self.tracer.run_traced:
            self._ext_direct()
        return OpResult(lat, N_DOCS)

    def _ext_direct(self) -> None:
        """Direct calls into ``ext`` on the documents, after every op of a
        traced run, so that traced and untraced ops alike follow them; the
        spans are kept for traced ops only."""
        from dbt_pro3_spark.ext.dedup import exact_dedup, minhash_banded_pairs
        from dbt_pro3_spark.ext.text import quality_features
        from dbt_pro3_spark.sources.readers import load

        docs = load(self.spark, str(self.docs_dir), "documents")
        calls = {
            "ext.dedup.exact_dedup": lambda: exact_dedup(docs, "doc_id", "text"),
            "ext.dedup.minhash_banded_pairs": lambda: minhash_banded_pairs(
                docs, "doc_id", "text", n=3, num_perm=16, bands=4
            ),
            "ext.text.quality_features": lambda: quality_features(docs),
        }
        for name, call in calls.items():
            with self.tracer.span(name):
                noop_sink(call())

    def check(self) -> list[str]:
        """Each key's first-pass result against its DuckDB oracle over the
        same parquet file."""
        import duckdb

        errors = []
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{self.docs_dir / 'documents.parquet'}')"
            )
            for key in CURATION_KEYS:
                cols, rows = self.kept[key]
                s = _canon(cols, rows)
                res = con.execute(self.oracle[key])
                d = _canon([c[0] for c in res.description], res.fetchall())
                if sorted(cols) != sorted(c[0] for c in res.description):
                    errors.append(f"{key}: columns differ from the oracle's")
                elif len(s) != len(d) or not all(_same(a, b) for a, b in zip(s, d)):
                    errors.append(f"{key}: {len(s)} rows differ from the oracle's {len(d)}")
                elif not s:
                    errors.append(f"{key}: empty result")
        finally:
            con.close()
        return errors


WORKLOADS = {w.name: w for w in (MedallionBuild, IncrementalMerge, LlmCuration)}
