"""The benchmark's two workloads, their seeded inputs and their reference
answers.

Each workload generates its inputs with numpy/pyarrow from the seed,
writes them in ``setup``, and hands the client a fixed warm-up list and a
fixed timed list of :class:`Op`. An op's ``run`` calls the package's
public functions (the timed part); its ``check`` compares the result with
an answer computed independently from the generated arrays (not timed).

Every generated float is a multiple of 1/64 and every sum stays far below
2**53 / 64, so float64 sums are exact in any order: the checks compare
Spark's answers with numpy's for exact equality.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import dask_awkward_spark as dak
from dask_awkward_spark.operators import reducers as red
from dask_awkward_spark.operators import structure as st


@dataclass
class Op:
    """One client request: ``run(tracer)`` is timed, ``check(result)``
    returns None when the result is right, else a description of the
    mismatch."""

    family: str
    run: Callable[[Any], Any]
    check: Callable[[Any], "str | None"]
    changed_rows: int = 0


def _mismatch(what: str, got, want) -> "str | None":
    return None if got == want else f"{what}: got {got!r}, want {want!r}"


def _q64(x: np.ndarray) -> np.ndarray:
    return np.round(x * 64.0) / 64.0


# ---------------------------------------------------------------- nested_scan

N_EVENTS = 25_000
N_FILES = 8
TAG_VOCAB = np.array(
    ["alpha", "beta", "gamma", "delta", "muon", "electron", "jet", "photon",
     "tau", "kaon", "pion", "trigger"]
)
FIELDS = ("pt", "eta", "phi")
# one pass of nested_scan: the op mix every pass repeats, in seeded order.
# The mix is fixed so the percentiles fall on the same families in every
# run: p50 among the reducers, p90 among the combinations (the slowest).
NESTED_PASS = (
    "string", "string", "axis0_sum", "axis0_hist", "reduce", "reduce",
    "filter", "sort", "combine", "combine",
)


class NestedScan:
    """Event records with a Poisson(5) list of particles and a list of
    string tags, stored as parquet files and queried with the reference's
    nested-array operations."""

    name = "nested_scan"
    families = ("reduce", "filter", "sort", "combine", "axis0", "string")
    # two passes, the first one cold, move the timed window past the
    # steepest part of the JIT curve, where the slowest tenth of the ops
    # came from the first passes and p90 followed how fast a run got warm
    n_warmup_passes = 2
    n_passes = 10  # 100 timed ops

    def __init__(self, seed: int):
        self.seed = seed
        self.spark = self.path = None

    def _generate(self) -> None:
        rng = np.random.default_rng([self.seed, 1])
        n = rng.poisson(5, N_EVENTS)
        tot = int(n.sum())
        self.n = n
        self.ev = np.repeat(np.arange(N_EVENTS), n)  # event index per particle
        self.x = {
            "pt": _q64(rng.exponential(20.0, tot)),
            "eta": _q64(rng.normal(0.0, 2.0, tot)),
            "phi": _q64(rng.uniform(-np.pi, np.pi, tot)),
        }
        self.charge = rng.choice(np.array([-1, 1], dtype=np.int32), tot)
        nt = rng.integers(0, 4, N_EVENTS)
        self.tag_ev = np.repeat(np.arange(N_EVENTS), nt)
        self.tags = TAG_VOCAB[rng.integers(0, len(TAG_VOCAB), int(nt.sum()))]
        self.w = np.arange(N_EVENTS) % 97  # per-event checksum weight
        off = np.concatenate([[0], np.cumsum(n)]).astype(np.int32)
        toff = np.concatenate([[0], np.cumsum(nt)]).astype(np.int32)
        parts = pa.ListArray.from_arrays(
            pa.array(off),
            pa.StructArray.from_arrays(
                [pa.array(self.x[f]) for f in FIELDS] + [pa.array(self.charge)],
                list(FIELDS) + ["charge"],
            ),
        )
        tags = pa.ListArray.from_arrays(pa.array(toff), pa.array(self.tags))
        self.table = pa.table(
            {"id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
             "parts": parts, "tags": tags}
        )

    def setup(self, spark, tr, workdir: str) -> None:
        """Generate the events and write them as parquet files."""
        self._generate()
        os.makedirs(workdir)
        step = -(-N_EVENTS // N_FILES)
        for i in range(N_FILES):
            pq.write_table(
                self.table.slice(i * step, step),
                os.path.join(workdir, f"part-{i}.parquet"),
            )
        self.spark, self.path = spark, workdir

    # --- reference answers (numpy, from the generated arrays) ---

    def _per_event(self, vals: np.ndarray, ev: "np.ndarray | None" = None) -> np.ndarray:
        return np.bincount(self.ev if ev is None else ev, weights=vals, minlength=N_EVENTS)

    def _checksum(self, per_event: np.ndarray) -> tuple:
        return (float(per_event.sum()), float((per_event * self.w).sum()))

    # --- ops ---

    def _scan(self, tr, columns):
        with tr.span("sources.parquet.from_parquet"):
            return dak.from_parquet(self.spark, self.path, columns=columns)

    def _collect(self, tr, df, *aggs) -> tuple:
        with tr.span("spark.collect"):
            row = df.agg(*aggs).collect()[0]
        return tuple(None if v is None else float(v) for v in row)

    def _weighted(self, tr, arr, value) -> tuple:
        """(sum of value, sum of value * (id % 97)) over events."""
        with tr.span("operators.plan"):
            df = dak.zip({"id": arr["id"], "v": value}).to_df("r")
        return self._collect(
            tr, df, F.sum("r.v"), F.sum(F.col("r.v") * (F.col("r.id") % 97))
        )

    def op_reduce(self, field: str) -> Op:
        def run(tr):
            arr = self._scan(tr, ["id", "parts"])
            with tr.span("operators.plan"):
                v = arr["parts"][field]
                df = dak.zip({
                    "id": arr["id"],
                    "s": red.sum(v, axis=1),
                    "c": red.count(v, axis=1),
                    "m": red.max(v, axis=1),
                }).to_df("r")
            return self._collect(
                tr, df, F.sum("r.s"), F.sum("r.c"),
                F.sum(F.col("r.m") * (F.col("r.id") % 97)),
            )

        def check(got):
            x = self.x[field]
            nonempty = self.n > 0
            mx = np.zeros(N_EVENTS)
            starts = np.concatenate([[0], np.cumsum(self.n)[:-1]])
            mx[nonempty] = np.maximum.reduceat(x, starts[nonempty])
            want = (float(x.sum()), float(self.n.sum()), float((mx * self.w).sum()))
            return _mismatch(f"reduce {field}", got, want)

        return Op("reduce", run, check)

    def op_filter(self, field: str, cut: float) -> Op:
        def run(tr):
            arr = self._scan(tr, ["id", "parts"])
            with tr.span("operators.plan"):
                p = arr["parts"]
                kept = st.num(p[p[field] > cut], axis=1)
            return self._weighted(tr, arr, kept)

        def check(got):
            want = self._checksum(self._per_event((self.x[field] > cut).astype(float)))
            return _mismatch(f"filter {field}>{cut}", got, want)

        return Op("filter", run, check)

    def op_sort(self, field: str, k: int) -> Op:
        def run(tr):
            arr = self._scan(tr, ["id", "parts"])
            with tr.span("operators.plan"):
                top = st.sort(arr["parts"][field], axis=1, ascending=False)[:, :k]
                s = red.sum(top, axis=1)
            return self._weighted(tr, arr, s)

        def check(got):
            x = self.x[field]
            order = np.lexsort((-x, self.ev))
            starts = np.concatenate([[0], np.cumsum(self.n)[:-1]])
            rank = np.arange(len(x)) - np.repeat(starts, self.n)
            keep = rank < k
            want = self._checksum(self._per_event(x[order][keep], self.ev[order][keep]))
            return _mismatch(f"sort {field} top{k}", got, want)

        return Op("sort", run, check)

    def op_combine(self) -> Op:
        def run(tr):
            arr = self._scan(tr, ["parts"])
            with tr.span("operators.plan"):
                pairs = st.flatten(
                    st.combinations(arr["parts"], 2, fields=["a", "b"]), axis=1
                ).to_df("pr")
            return self._collect(
                tr, pairs, F.count(F.lit(1)),
                F.sum(F.col("pr.a.pt") + F.col("pr.b.pt")),
                F.sum(F.col("pr.a.charge") * F.col("pr.b.charge")),
            )

        def check(got):
            n = self.n.astype(np.int64)
            q = self._per_event(self.charge.astype(float))
            q2 = self._per_event((self.charge.astype(float)) ** 2)
            want = (
                float((n * (n - 1) // 2).sum()),
                float(((n - 1) * self._per_event(self.x["pt"])).sum()),
                float(((q * q - q2) / 2).sum()),
            )
            return _mismatch("combinations", got, want)

        return Op("combine", run, check)

    def op_axis0_sum(self, field: str) -> Op:
        def run(tr):
            arr = self._scan(tr, ["parts"])
            with tr.span("operators.plan"):
                total = red.sum(st.flatten(arr["parts"][field], axis=1), axis=0)
            with tr.span("spark.collect"):
                return float(total.compute())

        def check(got):
            return _mismatch(f"axis0 sum {field}", got, float(self.x[field].sum()))

        return Op("axis0", run, check)

    def op_axis0_hist(self, bins: int, hi: float) -> Op:
        def run(tr):
            arr = self._scan(tr, ["parts"])
            with tr.span("operators.plan"):
                flat = st.flatten(arr["parts"]["pt"], axis=1).to_df("x")
                h = dak.hist1d(flat, "x", bins, 0.0, hi)
            with tr.span("spark.collect"):
                return {int(r["bin"]): int(r["n"]) for r in h.collect()}

        def check(got):
            # the same arithmetic, in the same order, as functions.hist.bin_index
            x = self.x["pt"]
            inner = np.floor((x - 0.0) / (hi - 0.0) * float(bins)).astype(np.int64) + 1
            idx = np.where(x < 0.0, 0, np.where(x >= hi, bins + 1, inner))
            cnt = np.bincount(idx, minlength=bins + 2)
            want = {i: int(c) for i, c in enumerate(cnt) if c}
            return _mismatch(f"hist1d {bins} bins", got, want)

        return Op("axis0", run, check)

    def op_string(self, prefix: str) -> Op:
        def run(tr):
            arr = self._scan(tr, ["id", "tags"])
            with tr.span("operators.plan"):
                hits = red.sum(
                    st.values_astype(dak.str.starts_with(arr["tags"], prefix), "int"), axis=1
                )
            return self._weighted(tr, arr, hits)

        def check(got):
            hit = np.char.startswith(self.tags, prefix).astype(float)
            want = self._checksum(self._per_event(hit, self.tag_ev))
            return _mismatch(f"starts_with {prefix!r}", got, want)

        return Op("string", run, check)

    def _make(self, kind: str, rng: random.Random) -> Op:
        if kind == "reduce":
            return self.op_reduce(rng.choice(FIELDS))
        if kind == "filter":
            field = rng.choice(FIELDS)
            cut = {"pt": rng.choice([10.0, 20.0, 40.0]),
                   "eta": rng.choice([-1.0, 0.0, 1.5]),
                   "phi": rng.choice([-1.0, 0.5, 2.0])}[field]
            return self.op_filter(field, cut)
        if kind == "sort":
            return self.op_sort(rng.choice(FIELDS), rng.choice([1, 2, 3]))
        if kind == "combine":
            return self.op_combine()
        if kind == "axis0_sum":
            return self.op_axis0_sum(rng.choice(FIELDS))
        if kind == "axis0_hist":
            return self.op_axis0_hist(rng.choice([10, 20, 50]), rng.choice([50.0, 100.0]))
        if kind == "string":
            return self.op_string(rng.choice(["a", "e", "p", "t", "mu"]))
        raise ValueError(kind)

    def passes(self, rng: random.Random, n: int) -> "list[Op]":
        ops = []
        for _ in range(n):
            kinds = list(NESTED_PASS)
            rng.shuffle(kinds)
            ops.extend(self._make(k, rng) for k in kinds)
        return ops

    def warmup(self, rng: random.Random) -> "list[Op]":
        return self.passes(rng, self.n_warmup_passes)

    def final_check(self) -> "str | None":
        return None  # read-only: every op was checked on its own


# ------------------------------------------------------------------ table_dml

N_ROWS = 20_000
TABLE = "facts"
UPDATE_WIDTH, DELETE_WIDTH, SELECT_WIDTH = 200, 50, 2_000
MERGE_MATCHED, MERGE_NEW, INSERT_ROWS = 500, 500, 20
COMPACT_TARGET_BYTES = 1 << 20
# one cycle of table_dml, in this fixed order; the seed picks the key
# ranges and values. A read costs about twice as much once the table holds
# deletion vectors, so the order is fixed: a seeded order would move the
# share of reads that see them, and p50 with it. The deletes come late and
# the compaction that purges their vectors ends the cycle, so file and
# deletion-vector counts return to the same level every cycle. Ordered by
# cost, the statements fill ranks 1-35 (inserts), 36-65 (reads before the
# first delete), 66-95 (update, delete, compact, read after a delete) and
# 96-100 (merge) of every 100, so p50 and p90 fall inside a group, not on
# a boundary between two.
DML_CYCLE = (
    "insert", "select", "insert", "read", "select", "insert", "update",
    "select", "insert", "merge", "select", "insert", "select", "insert",
    "delete", "insert", "read", "delete", "delete", "compact",
)
HASH_MUL, HASH_MOD = 2654435761, 1 << 32
AGG = (
    "count(1) AS n", "sum(key) AS sk",
    f"sum(pmod(key * {HASH_MUL}, {HASH_MOD})) AS sh",
    "sum(val) AS sv", "sum(size(items)) AS si",
    "sum(aggregate(items, 0D, (a, x) -> a + x.w)) AS sw",
)


class TableModel:
    """In-memory model of the table: the state the seeded statement
    sequence must leave behind, indexed by key."""

    def __init__(self, capacity: int):
        self.present = np.zeros(capacity, dtype=bool)
        self.val = np.zeros(capacity)
        self.nitems = np.zeros(capacity, dtype=np.int64)
        self.wsum = np.zeros(capacity)

    def put(self, keys, val, nitems, wsum) -> None:
        pad = int(keys.max()) + 1 - len(self.present)
        if pad > 0:
            pad += N_ROWS
            self.present, self.val, self.nitems, self.wsum = (
                np.concatenate([a, np.zeros(pad, a.dtype)])
                for a in (self.present, self.val, self.nitems, self.wsum)
            )
        self.present[keys] = True
        self.val[keys], self.nitems[keys], self.wsum[keys] = val, nitems, wsum

    def aggregate(self, lo: int = 0, hi: "int | None" = None) -> tuple:
        sl = slice(lo, hi)
        keys = np.flatnonzero(self.present[sl]) + lo
        if not len(keys):
            return (0, 0, 0, 0.0, 0, 0.0)
        return (
            len(keys), int(keys.sum()), int(((keys * HASH_MUL) % HASH_MOD).sum()),
            float(self.val[keys].sum()), int(self.nitems[keys].sum()),
            float(self.wsum[keys].sum()),
        )


def _normalize_agg(row) -> tuple:
    n, sk, sh, sv, si, sw = row
    if not n:
        return (0, 0, 0, 0.0, 0, 0.0)
    return (int(n), int(sk), int(sh), float(sv), int(si), float(sw))


class TableDml:
    """One snapshot table with a nested list column, registered in a
    catalog and changed by a seeded sequence of UPDATE (copy-on-write),
    DELETE (merge-on-read), MERGE upserts, SQL INSERT ... VALUES, reads
    through the Python and SQL faces, and periodic compaction."""

    name = "table_dml"
    families = tuple(dict.fromkeys(DML_CYCLE))
    # one cold cycle: a second one would cost about 7 s a run, which the
    # time budget of the whole set of runs does not leave room for
    n_warmup_passes = 1
    n_passes = 5  # 100 timed ops

    def __init__(self, seed: int):
        self.seed = seed
        self.model = None
        self.spark = self.path = self.catalog = None

    def _rows(self, keys: np.ndarray) -> pa.Table:
        rng = self.rows_rng
        m = rng.poisson(3, len(keys))
        off = np.concatenate([[0], np.cumsum(m)]).astype(np.int32)
        w = _q64(rng.random(int(m.sum())) * 10.0)
        items = pa.ListArray.from_arrays(
            pa.array(off),
            pa.StructArray.from_arrays(
                [pa.array(rng.integers(0, 100, len(w)).astype(np.int32)), pa.array(w)],
                ["k", "w"],
            ),
        )
        return pa.table({
            "key": pa.array(keys.astype(np.int64)),
            "grp": pa.array((keys % 16).astype(np.int32)),
            "val": pa.array(_q64(rng.random(len(keys)) * 100.0)),
            "items": items,
        })

    def _model_put(self, t: pa.Table) -> None:
        items = t.column("items").combine_chunks()
        lens = items.value_lengths().to_numpy(zero_copy_only=False)
        w = items.flatten().field("w").to_numpy()
        owner = np.repeat(np.arange(len(t)), lens)
        self.model.put(
            t.column("key").to_numpy(), t.column("val").to_numpy(), lens,
            np.bincount(owner, weights=w, minlength=len(t)),
        )

    def setup(self, spark, tr, workdir: str) -> None:
        """Generate the table, write it and register it in a new catalog.
        The row generator restarts from the seed, so every set-up leaves
        it, and so the statement sequence, in the same state."""
        self.rows_rng = np.random.default_rng([self.seed, 2])
        self.next_key = N_ROWS
        self.table = self._rows(np.arange(N_ROWS))
        os.makedirs(workdir)
        self.spark = spark
        self.path = os.path.join(workdir, TABLE)
        self.catalog = os.path.join(workdir, "_catalog")
        with tr.span("sources.snapshot.write"):
            dak.snapshot_write(spark.createDataFrame(self.table), self.path)
        with tr.span("sources.catalog.register"):
            dak.snapshot_catalog_register(spark, self.catalog, TABLE, self.path)

    def _lookup(self, tr) -> dict:
        with tr.span("sources.catalog.lookup"):
            return dak.snapshot_catalog_tables(self.spark, self.catalog)

    def _new_keys(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n)
        self.next_key += n
        return keys

    # Each op_* updates the model when the sequence is built, in
    # sequence order, and checks against a snapshot of the model taken
    # at that point, so a check sees exactly the state its statement saw.

    def op_update(self, lo: int) -> Op:
        hi = lo + UPDATE_WIDTH
        m = self.model
        sel = np.flatnonzero(m.present[lo:hi]) + lo
        m.val[sel] += 1.0

        def run(tr):
            path = self._lookup(tr)[TABLE]
            with tr.span("sources.snapshot.update"):
                return dak.snapshot_update(
                    self.spark, path, where=[("key", ">=", lo), ("key", "<", hi)],
                    assignments={"val": F.col("val") + F.lit(1.0)},
                )

        n = len(sel)
        return Op("update", run, lambda s: _mismatch("updated_rows", s["updated_rows"], n), n)

    def op_delete(self, lo: int) -> Op:
        hi = lo + DELETE_WIDTH
        n = int(self.model.present[lo:hi].sum())
        self.model.present[lo:hi] = False

        def run(tr):
            path = self._lookup(tr)[TABLE]
            with tr.span("sources.snapshot.delete"):
                return dak.snapshot_delete(
                    self.spark, path, where=[("key", ">=", lo), ("key", "<", hi)],
                    strategy="merge-on-read",
                )

        return Op("delete", run, lambda s: _mismatch("removed_rows", s["removed_rows"], n), n)

    def op_merge(self, lo: int) -> Op:
        keys = np.concatenate([np.arange(lo, lo + MERGE_MATCHED), self._new_keys(MERGE_NEW)])
        src = self._rows(keys)
        matched = int(self.model.present[keys].sum())
        self._model_put(src)

        def run(tr):
            path = self._lookup(tr)[TABLE]
            source = self.spark.createDataFrame(src)
            with tr.span("sources.snapshot.merge"):
                return dak.snapshot_merge(self.spark, path, source, on=["key"])

        def check(s):
            got = (s["updated_rows"], s["inserted_rows"])
            return _mismatch("merge updated/inserted", got, (matched, len(keys) - matched))

        return Op("merge", run, check, len(keys))

    def op_insert(self) -> Op:
        rows = self._rows(self._new_keys(INSERT_ROWS)).to_pylist()
        # every row carries at least one item, so VALUES infers the
        # element type of the list column
        for r in rows:
            r["items"] = r["items"] or [{"k": 0, "w": 0.5}]
        self._model_put(pa.Table.from_pylist(rows, schema=self.table.schema))
        values = ", ".join(
            "({}, {}, {!r}D, array({}))".format(
                r["key"], r["grp"], r["val"],
                ", ".join(f"named_struct('k', {i['k']}, 'w', {i['w']!r}D)" for i in r["items"]),
            )
            for r in rows
        )
        sql = f"INSERT INTO {TABLE} VALUES {values}"

        def run(tr):
            tables = self._lookup(tr)
            with tr.span("sources.sqlface.sql"):
                return dak.snapshot_sql(self.spark, sql, tables)

        return Op(
            "insert", run,
            lambda v: None if isinstance(v, int) else f"insert returned {v!r}",
            INSERT_ROWS,
        )

    def op_read(self) -> Op:
        want = self.model.aggregate()

        def run(tr):
            path = self._lookup(tr)[TABLE]
            with tr.span("sources.snapshot.read"):
                df = dak.snapshot_read(self.spark, path)
            with tr.span("spark.collect"):
                return tuple(df.selectExpr(*AGG).collect()[0])

        return Op("read", run, lambda got: _mismatch("read", _normalize_agg(got), want))

    def op_select(self, lo: int) -> Op:
        hi = lo + SELECT_WIDTH
        want = self.model.aggregate(lo, hi)
        sql = f"SELECT {', '.join(AGG)} FROM {TABLE} WHERE key >= {lo} AND key < {hi}"

        def run(tr):
            tables = self._lookup(tr)
            with tr.span("sources.sqlface.sql"):
                df = dak.snapshot_sql(self.spark, sql, tables)
            with tr.span("spark.collect"):
                return tuple(df.collect()[0])

        return Op("select", run, lambda got: _mismatch(f"select [{lo},{hi})", _normalize_agg(got), want))

    def op_compact(self) -> Op:
        def run(tr):
            path = self._lookup(tr)[TABLE]
            with tr.span("sources.snapshot.compact"):
                return dak.snapshot_compact(self.spark, path, target_file_bytes=COMPACT_TARGET_BYTES)

        return Op("compact", run, lambda v: None if isinstance(v, int) else f"compact returned {v!r}")

    def gauges(self) -> dict:
        """Visible data files and deletion-vector-carrying files, from
        the manifest; the traced run samples them before each compaction."""
        files = dak.snapshot_files(self.spark, self.path).collect()
        return {
            "snapshot.visible_files": len(files),
            "snapshot.dv_files": sum(1 for f in files if f["deleted_rows"]),
        }

    def _make(self, kind: str, rng: random.Random) -> Op:
        top = self.next_key
        if kind == "update":
            return self.op_update(rng.randrange(0, top - UPDATE_WIDTH))
        if kind == "delete":
            return self.op_delete(rng.randrange(0, top - DELETE_WIDTH))
        if kind == "merge":
            return self.op_merge(rng.randrange(0, top - MERGE_MATCHED))
        if kind == "insert":
            return self.op_insert()
        if kind == "read":
            return self.op_read()
        if kind == "select":
            return self.op_select(rng.randrange(0, top - SELECT_WIDTH))
        if kind == "compact":
            return self.op_compact()
        raise ValueError(kind)

    def passes(self, rng: random.Random, n: int) -> "list[Op]":
        return [self._make(k, rng) for _ in range(n) for k in DML_CYCLE]

    def warmup(self, rng: random.Random) -> "list[Op]":
        """Whole cycles on the table the timed sequence then continues
        from; the model starts here."""
        self.model = TableModel(N_ROWS)
        self._model_put(self.table)
        return self.passes(rng, self.n_warmup_passes)

    def final_check(self) -> "str | None":
        got = dak.snapshot_read(self.spark, self.path).selectExpr(*AGG).collect()[0]
        return _mismatch("final table state", _normalize_agg(got), self.model.aggregate())


WORKLOADS = {w.name: w for w in (NestedScan, TableDml)}
