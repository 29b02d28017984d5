"""Seeded input generator and independent expected state.

Everything the engine sees is written here, from the seed alone: the
Keboola data dir for ``csv_load`` and the target plus change batches for
the two upsert workloads. Row values are DuckDB ``hash()`` functions of
(key, seed, version), so a batch's rows do not depend on thread count or
on generation order. Keys picked for update come from a
``numpy.random.Generator`` seeded from the same seed.

The expected final table is kept in DuckDB by applying each batch with
plain SQL (delete the batch keys, insert the batch rows), never through
the engine. ``Generator.expected_hash`` reduces it to (row count, sum of 60-bit
md5 prefixes of a canonical row string); ``check.frame_hash`` computes
the same reduction in Spark over what the engine committed.
"""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pyarrow as pa

# Canonical column order of every generated table. ``cents`` and
# ``ts_s`` are the integer forms of the NUMERIC(14,2) and TIMESTAMP
# columns, which is what the row hash reads on both sides.
COLUMNS = ["id", "customer_id", "cents", "ts_s", "status", "note"]
CSV_SLICES = 8
TABLE_NAME = "orders"


def _rows_sql(seed: int, version: int, keys_sql: str) -> str:
    """SELECT of generated rows for the keys ``keys_sql`` yields (one
    BIGINT column ``i``). ``version`` makes an update's values differ
    from the row it replaces."""
    h = f"hash(i, {seed}, {version}"
    return f"""
        SELECT i::BIGINT AS id,
               ({h}, 1) % 100000)::BIGINT AS customer_id,
               ({h}, 2) % 10000000)::BIGINT AS cents,
               (1577836800 + {h}, 3) % 157680000)::BIGINT AS ts_s,
               ['new', 'paid', 'shipped', 'returned', 'cancelled']
                   [1 + ({h}, 4) % 5)::INTEGER] AS status,
               substr(md5(i::VARCHAR || ':{seed}:{version}'), 1,
                      (8 + {h}, 5) % 20)::INTEGER) AS note
        FROM ({keys_sql})
    """


def _csv_projection() -> str:
    # exact decimal and timestamp text, no float formatting
    return """
        id, customer_id,
        (cents // 100)::VARCHAR || '.' || lpad((cents % 100)::VARCHAR, 2, '0'),
        strftime(make_timestamp(ts_s * 1000000), '%Y-%m-%d %H:%M:%S'),
        status, note
    """


def _hash_sql(relation: str, extra: list[str] | None = None) -> str:
    cols = ", ".join(COLUMNS + (extra or []))
    return f"""
        SELECT count(*)::BIGINT,
               coalesce(sum(('0x' || substr(md5(concat_ws('|', {cols})), 1, 15))
                            ::BIGINT::HUGEINT), 0)::VARCHAR
        FROM {relation}
    """


class Generator:
    """One workload's inputs and expected state, owned by one DuckDB
    connection capped at ``threads``."""

    def __init__(self, root: str, seed: int, threads: int):
        self.root = root
        self.seed = seed
        os.makedirs(root, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.rng = np.random.default_rng(seed)
        self.max_key = 0  # keys in use are [0, max_key)
        self.batches = 0
        self.recent_updates = 0
        self.updates = 0

    def close(self) -> None:
        self.con.close()

    # ---------- csv_load ----------

    def csv_datadir(self, rows: int) -> tuple[str, int]:
        """Write a Keboola data dir: ``in/tables/orders.csv/`` with
        header-less slices, a legacy ``column_metadata`` manifest with a
        PK, and ``config.json`` with ``mode: overwrite`` and
        ``preserve_insertion_order`` left at its default. Returns the
        dir and its CSV bytes. The expected table is ``expected`` with
        the engine's ``_slice_idx``/``_row_in_slice`` order columns."""
        data_dir = os.path.join(self.root, "datadir")
        sliced = os.path.join(data_dir, "in", "tables", f"{TABLE_NAME}.csv")
        os.makedirs(sliced)
        self.con.execute(
            f"CREATE TABLE expected AS "
            f"SELECT *, (id * {CSV_SLICES}) // {rows} AS _slice_idx FROM ("
            + _rows_sql(self.seed, 0, f"SELECT range AS i FROM range({rows})")
            + ")"
        )
        self.con.execute(
            "CREATE TABLE bounds AS SELECT _slice_idx, min(id) AS lo "
            "FROM expected GROUP BY _slice_idx"
        )
        self.con.execute(
            "CREATE OR REPLACE TABLE expected AS SELECT e.*, "
            "e.id - b.lo AS _row_in_slice FROM expected e "
            "JOIN bounds b USING (_slice_idx)"
        )
        csv_bytes = 0
        for k in range(CSV_SLICES):
            path = os.path.join(sliced, f"slice_{k:03d}.csv")
            self.con.execute(
                f"COPY (SELECT {_csv_projection()} FROM expected "
                f"WHERE _slice_idx = {k} ORDER BY id) TO '{path}' (HEADER false)"
            )
            csv_bytes += os.path.getsize(path)
        basetypes = {
            "id": ("INTEGER", None),
            "customer_id": ("INTEGER", None),
            "amount": ("NUMERIC", "14,2"),
            "created_at": ("TIMESTAMP", None),
            "status": ("STRING", None),
            "note": ("STRING", None),
        }
        metadata = {}
        for name, (base, length) in basetypes.items():
            entries = [{"key": "KBC.datatype.basetype", "value": base}]
            if length:
                entries.append({"key": "KBC.datatype.length", "value": length})
            metadata[name] = entries
        manifest = {
            "columns": list(basetypes),
            "primary_key": ["id"],
            "column_metadata": metadata,
        }
        with open(sliced + ".manifest", "w") as f:
            json.dump(manifest, f)
        config = {"parameters": {"destination": {"mode": "overwrite"}}}
        with open(os.path.join(data_dir, "config.json"), "w") as f:
            json.dump(config, f)
        self.max_key = rows
        return data_dir, csv_bytes

    # ---------- upsert workloads ----------

    def target(self, rows: int) -> tuple[str, int]:
        """The untimed target: keys ``[0, rows)`` as one parquet file.
        Also seeds the expected state."""
        path = os.path.join(self.root, "target.parquet")
        self.con.execute(
            "CREATE TABLE expected AS "
            + _rows_sql(self.seed, 0, f"SELECT range AS i FROM range({rows})")
        )
        self.con.execute(f"COPY expected TO '{path}' (FORMAT parquet)")
        self.max_key = rows
        return path, os.path.getsize(path)

    def append_batch(self, rows: int) -> tuple[str, int, int]:
        """Fresh keys past the current max. Returns (path, bytes, rows)."""
        keys = np.arange(self.max_key, self.max_key + rows, dtype=np.int64)
        self.max_key += rows
        return self._batch(keys)

    def change_batch(
        self, rows: int, update_share: float, recent_share: float
    ) -> tuple[str, int, int]:
        """An upsert batch of ``rows`` unique keys: ``update_share`` of
        them update existing keys, the rest insert past the max key. Of
        the updates, ``recent_share`` come from the newest key decile and
        the rest uniformly from all keys (which may also land in the
        newest decile; ``recent_key_share`` reports the measured
        share)."""
        n_upd = int(round(rows * update_share))
        n_recent = int(round(n_upd * recent_share))
        decile = max(1, self.max_key // 10)
        lo = self.max_key - decile
        recent = lo + self.rng.choice(decile, size=min(n_recent, decile), replace=False)
        chosen = set(recent.tolist())
        while len(chosen) < n_upd:
            for k in self.rng.integers(0, self.max_key, size=n_upd - len(chosen)):
                chosen.add(int(k))
        upd = np.fromiter(sorted(chosen), dtype=np.int64)
        self.updates += len(upd)
        self.recent_updates += int((upd >= lo).sum())
        n_ins = rows - n_upd
        ins = np.arange(self.max_key, self.max_key + n_ins, dtype=np.int64)
        self.max_key += n_ins
        return self._batch(np.concatenate([upd, ins]))

    def _batch(self, keys: np.ndarray) -> tuple[str, int, int]:
        self.batches += 1
        path = os.path.join(self.root, f"batch_{self.batches:05d}.parquet")
        self.con.register("batch_keys", pa.table({"i": keys}))
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE batch AS "
            + _rows_sql(self.seed, self.batches, "SELECT i FROM batch_keys")
        )
        self.con.unregister("batch_keys")
        self.con.execute(f"COPY batch TO '{path}' (FORMAT parquet)")
        # the expected state applies the batch last-write-wins by key
        self.con.execute("DELETE FROM expected WHERE id IN (SELECT id FROM batch)")
        self.con.execute("INSERT INTO expected SELECT * FROM batch")
        return path, os.path.getsize(path), len(keys)

    @property
    def recent_key_share(self) -> float:
        return self.recent_updates / self.updates if self.updates else 0.0

    # ---------- expected state ----------

    def expected_rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM expected").fetchone()[0]

    def expected_hash(self, order_columns: bool = False) -> tuple[int, str]:
        extra = ["_slice_idx", "_row_in_slice"] if order_columns else None
        n, h = self.con.execute(_hash_sql("expected", extra)).fetchone()
        return int(n), str(h)

    def expected_aggregate(self) -> tuple[int, int, int]:
        """(row count, sum of cents, max epoch second) of the expected
        table: what a ``read()`` aggregate must return."""
        n, cents, ts = self.con.execute(
            "SELECT count(*), sum(cents), max(ts_s) FROM expected"
        ).fetchone()
        return int(n), int(cents), int(ts)

    def expected_row_hash(self, key: int) -> int | None:
        """The 60-bit md5 prefix of the expected row with id ``key``,
        over the same canonical string as ``check.row_hash``."""
        row = self.con.execute(
            f"SELECT ('0x' || substr(md5(concat_ws('|', {', '.join(COLUMNS)})), 1, 15))"
            f"::BIGINT FROM expected WHERE id = {int(key)}"
        ).fetchone()
        return None if row is None else int(row[0])

    def lookup_key(self) -> int:
        """A key present in the target (never deleted), so a point
        lookup must return exactly one row."""
        return int(self.rng.integers(0, max(1, self.max_key // 2)))
