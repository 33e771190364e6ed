"""The ``kv_mixed`` workload: keyed-store serving reads beside writes.

A closed loop with one client against one keyed table of lineitem
columns (``bloomfilter=ROW``): a CTAS of ``BASE_ROWS`` rows plus
``APPEND_RUNS`` appended sorted runs.  Row keys are uniform 16-hex
digests, so every appended run spans the whole key space: span pruning
alone leaves all runs as candidates for a point get, and the Bloom probe
decides.  Writes then add files and generations under the same reads,
so a write-path change that costs read latency shows here.

Ops come in blocks of a fixed composition (``BLOCK``): each write,
and the minor compaction that closes the block, is followed by an equal
share of the reads, all in seeded order.  The measured window ends at a
block boundary, so every run sees the same mix.  Every result
is checked against :class:`KvModel`.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
from tracer import Recorder, table_census

TABLE = "kv.t"
# Every write rewrites the files that hold its keys, and uniform keys
# touch nearly every file, so write latency grows with table size; this
# size keeps three blocks inside a run.
BASE_ROWS = 50_000
APPEND_RUNS = 4
APPEND_ROWS = 1_000
MULTIGET_KEYS = 100
PAGE_ROWS = 1_000
PREFIX_HEX = 3  # 1/4096 of the keys per prefix

# op kind -> count per block: 20 serving reads, 4 writes, one
# compaction.  Seven in ten reads are point gets (one in fourteen of
# them for an absent key), so point-get latency dominates the read figure.
BLOCK = {
    "get": 13, "get_absent": 1, "multiget": 2, "scan_prefix": 1,
    "scan_page": 1, "sql_point": 1, "sql_count": 1,
    "upsert": 1, "delete": 1, "insert": 1, "mutate": 1,
}
# untimed before the window: every read kind, plus the write kinds whose
# first call paid one-time costs (class loading, code generation); the
# compaction merges the appended runs, so every block starts compacted
WARM_UP = ["upsert", "get", "get_absent", "multiget", "scan_prefix",
           "scan_page", "sql_point", "sql_count", "mutate", "compact"]
UPSERT_EXISTING, UPSERT_NEW = 40, 10
DELETE_KEYS = 10
INSERT_ROWS = 1_000
MUTATE_KEYS = 100

READ_KINDS = {"get", "get_absent", "multiget", "scan_prefix", "scan_page",
              "sql_point", "sql_count"}


class KvModel:
    """The live key set and one checked value (``l:rev``) per key: a
    sorted base array for the rows present after set-up, plus a dict for
    keys written later."""

    def __init__(self, keys: np.ndarray, vals: np.ndarray):
        order = np.argsort(keys)
        self.keys = keys[order]
        self.vals = vals[order].astype(np.int64)
        self.alive = np.ones(len(keys), dtype=bool)
        self.extra: dict[str, int] = {}
        self.deleted = 0

    def _base_index(self, key: str) -> int:
        i = int(np.searchsorted(self.keys, key))
        return i if i < len(self.keys) and self.keys[i] == key else -1

    def get(self, key: str) -> int | None:
        if key in self.extra:
            return self.extra[key]
        i = self._base_index(key)
        return int(self.vals[i]) if i >= 0 and self.alive[i] else None

    def put(self, key: str, val: int) -> None:
        i = self._base_index(key)
        if i >= 0:
            self.deleted -= not self.alive[i]
            self.vals[i], self.alive[i] = val, True
        else:
            self.extra[key] = val

    def delete(self, key: str) -> None:
        i = self._base_index(key)
        if i >= 0 and self.alive[i]:
            self.alive[i] = False
            self.deleted += 1
        self.extra.pop(key, None)

    def count(self) -> int:
        return len(self.keys) - self.deleted + len(self.extra)

    def scan(self, lo: str, hi: str | None, limit: int | None = None,
             after: bool = False) -> list[tuple[str, int]]:
        """Live (key, value) pairs in key order from ``lo`` (exclusive
        when ``after``) up to ``hi``, at most ``limit`` of them."""
        i = int(np.searchsorted(self.keys, lo, side="right" if after else "left"))
        j = len(self.keys) if hi is None else int(np.searchsorted(self.keys, hi))
        if limit is not None:
            j = min(j, i + limit + self.deleted)
        sl = slice(i, j)
        rows = [(k, v) for k, v, a in zip(self.keys[sl].tolist(), self.vals[sl].tolist(),
                                          self.alive[sl].tolist()) if a]
        rows += [(k, v) for k, v in self.extra.items()
                 if (k > lo if after else k >= lo) and (hi is None or k < hi)]
        rows.sort()
        return rows[:limit]

    def sample_live(self, rng: np.random.Generator, n: int) -> list[str]:
        """``n`` distinct live base keys."""
        idx = rng.choice(len(self.keys), size=min(len(self.keys), 2 * n + 64), replace=False)
        out = [str(self.keys[i]) for i in idx if self.alive[i]][:n]
        if len(out) < n:
            raise RuntimeError("model ran out of live keys to sample")
        return out

    def checksum(self) -> int:
        live = zip(self.keys[self.alive].tolist(), self.vals[self.alive].tolist())
        total = sum(zlib.crc32(f"{k}:{v}".encode()) for k, v in live)
        return total + sum(zlib.crc32(f"{k}:{v}".encode()) for k, v in self.extra.items())


def _rows_match(rows, expected: dict[str, int | None]) -> bool:
    """Rows returned for a key set hold exactly the live keys, once each,
    with the model's value."""
    got = {}
    for r in rows:
        if r["row_key"] in got:
            return False
        got[r["row_key"]] = r[datagen.KV_VALUE_COL]
    return got == {k: v for k, v in expected.items() if v is not None}


def _pairs(rows) -> list[tuple[str, int]]:
    return [(r["row_key"], r[datagen.KV_VALUE_COL]) for r in rows]


class KvWorkload:
    name = "kv_mixed"

    def __init__(self, sess, rec: Recorder, seed: int, work_dir: str):
        from spark_sql_hbase_spark.catalog import TableSpec

        self.sess, self.store, self.spark = sess, sess.store, sess.spark
        self.rec, self.seed, self.work_dir = rec, seed, work_dir
        self.rng = np.random.default_rng([seed, 11])
        self.spec = TableSpec(
            namespace="kv", name="t", key_type="string",
            families={datagen.KV_FAMILY: dict(datagen.KV_COLUMNS)},
            properties={"bloomfilter": "ROW"},
        )
        self.schema = self.spec.schema()
        self.next_new = datagen.NEW_KEY_BASE
        self.next_absent = datagen.ABSENT_KEY_BASE
        self.next_stream = 1000
        self.model: KvModel | None = None
        self.ctas_bytes_per_row = 0.0
        self.build_s = 0.0

    # -- inputs --------------------------------------------------------------
    def _frame(self, tbl: pa.Table):
        return self.spark.createDataFrame(tbl.to_pandas(), schema=self.schema)

    def _batch(self, keys: list[str], n_new: int) -> pa.Table:
        """Rows with fresh values for ``keys`` plus ``n_new`` new keys."""
        self.next_stream += 1
        new = np.arange(self.next_new, self.next_new + n_new)
        self.next_new += n_new
        tbl = datagen.kv_rows(self.seed, self.next_stream, np.arange(len(keys) + n_new))
        all_keys = list(keys) + datagen.row_keys(self.seed, new).tolist()
        return tbl.set_column(0, "row_key", pa.array(all_keys))

    def _absent_keys(self, n: int) -> list[str]:
        idx = np.arange(self.next_absent, self.next_absent + n)
        self.next_absent += n
        return datagen.row_keys(self.seed, idx).tolist()

    def census(self) -> dict:
        return table_census(self.store.table_root(self.spec), self.store.table_path(self.spec))

    # -- set-up ----------------------------------------------------------------
    def build(self) -> None:
        """CTAS of the base rows, then the appended sorted runs; fails
        unless every live data file has its Bloom sidecar."""
        base = datagen.kv_rows(self.seed, 0, np.arange(BASE_ROWS))
        src = os.path.join(self.work_dir, "kv_base.parquet")
        pq.write_table(base, src)
        runs = [
            datagen.kv_rows(self.seed, 1 + r, np.arange(BASE_ROWS + r * APPEND_ROWS,
                                                        BASE_ROWS + (r + 1) * APPEND_ROWS))
            for r in range(APPEND_RUNS)
        ]
        frames = [self._frame(t) for t in runs]

        def build():
            self.store.ctas(self.spec, self.spark.read.parquet(src), mode="error")
            self.ctas_bytes_per_row = self.census()["bytes"] / BASE_ROWS
            for df in frames:
                self.store.insert(TABLE, df, generate_row_key=False)

        _, self.build_s = self.rec.phase("keyed.build", build)
        tables = [base] + runs
        self.model = KvModel(
            np.concatenate([t.column("row_key").to_numpy(zero_copy_only=False)
                            for t in tables]).astype(str),
            np.concatenate([t.column(datagen.KV_VALUE_COL).to_numpy() for t in tables]),
        )
        cov = self.sidecar_coverage()
        if cov < 1.0:
            raise RuntimeError(
                f"Bloom sidecar guard: only {cov:.3f} of live data files have a "
                "_bloom sidecar after set-up; point gets would measure the no-Bloom path"
            )

    def sidecar_coverage(self) -> float:
        """Share of non-empty live data files that have a Bloom sidecar
        (zero-row files carry none and are pruned by their span)."""
        gen = self.store.table_path(self.spec)
        live = [f for f in os.listdir(gen) if f.endswith(".parquet")]
        missing = [f for f in live if not os.path.exists(os.path.join(gen, "_bloom", f + ".bf"))]
        empty = sum(1 for f in missing if pq.read_metadata(os.path.join(gen, f)).num_rows == 0)
        nonempty = len(live) - empty
        return (nonempty - (len(missing) - empty)) / nonempty if nonempty else 1.0

    # -- ops -------------------------------------------------------------------
    def _get(self, kind: str, keys: list[str], record: bool) -> None:
        expected = {k: self.model.get(k) for k in keys}
        probe = None
        if kind in ("get", "get_absent"):
            def probe(df):
                gen = self.store.table_path(self.spec)
                live = sum(1 for f in os.listdir(gen) if f.endswith(".parquet"))
                return {"files": len(df.inputFiles()), "live": live}
        self.rec.op(kind, "keyed", lambda: self.store.get(TABLE, keys),
                    action=lambda df: df.collect(),
                    check=lambda rows: _rows_match(rows, expected),
                    probe=probe, record=record)

    def _pick_key(self) -> str:
        """A key to read: a base key (live or deleted) or a written one."""
        m = self.model
        if m.extra and self.rng.random() < 0.25:
            keys = list(m.extra)
            return keys[int(self.rng.integers(0, len(keys)))]
        return str(m.keys[int(self.rng.integers(0, len(m.keys)))])

    def _write(self, kind: str, call, check, user_bytes: int, record: bool) -> bool:
        census = self.census if self.rec.traced else None
        r = self.rec.op(kind, "commit", call, check=check, census=census, record=record)
        r.extra["user_bytes"] = user_bytes
        return r.ok

    def run_op(self, kind: str, record: bool = True) -> None:
        m, rng, rec = self.model, self.rng, self.rec
        if kind == "get":
            self._get(kind, [self._pick_key()], record)
        elif kind == "get_absent":
            self._get(kind, self._absent_keys(1), record)
        elif kind == "multiget":
            n_absent = MULTIGET_KEYS // 10
            keys = m.sample_live(rng, MULTIGET_KEYS - n_absent) + self._absent_keys(n_absent)
            self._get(kind, keys, record)
        elif kind == "scan_prefix":
            prefix = f"{int(rng.integers(0, 16 ** PREFIX_HEX)):0{PREFIX_HEX}x}"
            expected = m.scan(prefix, prefix + "g")
            rec.op(kind, "keyed", lambda: self.store.scan_prefix(TABLE, prefix),
                   action=lambda df: df.collect(),
                   check=lambda rows: sorted(_pairs(rows)) == expected, record=record)
        elif kind == "scan_page":
            after = self._pick_key()
            expected = m.scan(after, None, limit=PAGE_ROWS, after=True)

            def page_ok(rows) -> bool:
                # a page may close early at a file-span boundary, but it
                # is never empty before the walk ends
                got = _pairs(rows)
                return got == expected[:len(got)] and (bool(got) or not expected)

            rec.op(kind, "keyed", lambda: self.store.scan_page(TABLE, PAGE_ROWS, after_key=after),
                   action=lambda df: df.collect(), check=page_ok, record=record)
        elif kind == "sql_point":
            key = self._pick_key()
            expected = {key: m.get(key)}
            rec.op(kind, "sqlfront",
                   lambda: self.sess.sql(f"SELECT * FROM {TABLE} WHERE row_key = '{key}'"),
                   action=lambda df: df.collect(),
                   check=lambda rows: _rows_match(rows, expected), record=record)
        elif kind == "sql_count":
            n = m.count()
            rec.op(kind, "sqlfront", lambda: self.sess.sql(f"SELECT COUNT(*) FROM {TABLE}"),
                   action=lambda df: df.collect(),
                   check=lambda rows: len(rows) == 1 and rows[0][0] == n, record=record)
        elif kind in ("upsert", "insert"):
            if kind == "upsert":
                tbl = self._batch(m.sample_live(rng, UPSERT_EXISTING), UPSERT_NEW)
            else:
                tbl = self._batch([], INSERT_ROWS)
            df = self._frame(tbl)
            call = ((lambda: self.store.upsert(TABLE, df)) if kind == "upsert" else
                    (lambda: self.store.insert(TABLE, df, generate_row_key=False)))
            if self._write(kind, call, None, tbl.nbytes, record):
                for k, v in zip(tbl.column("row_key").to_pylist(),
                                tbl.column(datagen.KV_VALUE_COL).to_pylist()):
                    m.put(k, v)
        elif kind == "delete":
            keys = m.sample_live(rng, DELETE_KEYS)
            df = self.spark.createDataFrame([(k,) for k in keys], "row_key string")
            if self._write(kind, lambda: self.store.delete_keys(TABLE, df),
                           lambda n: n == len(keys), sum(len(k) for k in keys), record):
                for k in keys:
                    m.delete(k)
        elif kind == "mutate":
            keys = m.sample_live(rng, MUTATE_KEYS)
            deltas = rng.integers(1, 10, len(keys)).tolist()
            after = [m.get(k) + d for k, d in zip(keys, deltas)]
            ops = [{"op": "increment", "key": k, "col": datagen.KV_VALUE_COL, "delta": d}
                   for k, d in zip(keys, deltas)]
            if self._write(kind, lambda: self.store.mutate(TABLE, ops),
                           lambda res: [(x["applied"], x["value"]) for x in res]
                           == [(True, v) for v in after],
                           sum(len(k) + 8 for k in keys), record):
                for k, v in zip(keys, after):
                    m.put(k, v)
        elif kind == "compact":
            self._write(kind, lambda: self.store.compact_minor(TABLE),
                        lambda n: n >= 0, 0, record)
        else:
            raise ValueError(kind)

    def warm_up(self) -> None:
        for kind in WARM_UP:
            self.run_op(kind, record=False)

    def unit(self) -> dict[str, int]:
        """Op count of each kind in one block."""
        return {**BLOCK, "compact": 1}

    def schedule(self) -> list[str]:
        """One block: each write, in seeded order and closed by the
        compaction, is followed by an equal share of the reads, so every
        seed reads the same number of times after each commit."""
        ops = [k for k, n in BLOCK.items() for _ in range(n)]
        writes = [k for k in ops if k not in READ_KINDS]
        reads = [k for k in ops if k in READ_KINDS]
        writes = [writes[i] for i in self.rng.permutation(len(writes))] + ["compact"]
        reads = [reads[i] for i in self.rng.permutation(len(reads))]
        return [op for i, w in enumerate(writes) for op in [w] + reads[i::len(writes)]]

    def final_check(self) -> None:
        """``fast_count`` and a full-scan checksum must equal the model."""
        n = self.model.count()
        self.rec.op("final_count", "keyed", lambda: self.store.fast_count(TABLE),
                    check=lambda got: got == n, record=False)
        want = self.model.checksum()
        crc = F.crc32(F.concat_ws(":", F.col("row_key"),
                                  F.col(datagen.KV_VALUE_COL).cast("string")))
        self.rec.op("final_checksum", "keyed",
                    lambda: self.store.read(TABLE).agg(F.count(F.lit(1)), F.sum(crc)),
                    action=lambda df: df.collect()[0],
                    check=lambda row: (row[0], row[1]) == (n, want), record=False)

    def space_amp(self) -> float:
        """Bytes under the table root (distinct inodes) per live row,
        relative to the bytes per row right after the CTAS."""
        return self.census()["bytes"] / (self.model.count() * self.ctas_bytes_per_row)
