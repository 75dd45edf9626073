"""The ``lakehouse`` workload's tables: one Delta, one Iceberg and one
Hudi table receive the same seeded sequence of appends, keyed upserts
and deletes through the engine's public writers; the read ops then
scan that history. A plain-Python model of the rows after every step
is the oracle for the reads.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pandas as pd

APP_ID = "perfbench"
BASE_ROWS = 2000
APPEND_ROWS = 300
UPSERT_ROWS = 150
DELETE_ROWS = 60
# after the base load: A = append new keys, U = upsert base keys,
# D = delete keys of the append right before it (its file is then
# still pristine, so Delta can address the rows by position)
SCHEDULE = "UAD"
# Delta checkpoints every 2 commits, so the 5-version history cycles
# through 2 auto-checkpoints
DELTA_CHECKPOINT_INTERVAL = 2
COLUMNS = ["id", "k", "v", "s"]
FORMATS = ("delta", "iceberg", "hudi")


def _expect(cond, msg: str) -> None:
    """A check that holds under ``python -O`` too."""
    if not cond:
        raise AssertionError(msg)


def _rows(rng, ids) -> pd.DataFrame:
    n = len(ids)
    return pd.DataFrame({
        "id": np.asarray(ids, "int64"),
        "k": rng.integers(0, 50, n).astype("int64"),
        "v": rng.integers(0, 4000, n) / 4.0,
        "s": [f"s{x}" for x in rng.integers(0, 1000, n)]})


def batches(seed: int) -> list[tuple[str, pd.DataFrame]]:
    """The write sequence: ``[("B", base), (op, rows), ...]``. Delete
    batches carry full rows, though only their keys are used."""
    rng = np.random.default_rng(seed + 7919)
    out = [("B", _rows(rng, np.arange(BASE_ROWS)))]
    next_id = BASE_ROWS
    for op in SCHEDULE:
        if op == "A":
            out.append(("A", _rows(rng, np.arange(next_id,
                                                  next_id + APPEND_ROWS))))
            next_id += APPEND_ROWS
        elif op == "U":
            ids = np.sort(rng.choice(BASE_ROWS, UPSERT_ROWS, replace=False))
            out.append(("U", _rows(rng, ids)))
        else:
            prev = out[-1][1]
            pick = np.sort(rng.choice(len(prev), DELETE_ROWS, replace=False))
            out.append(("D", prev.iloc[pick].reset_index(drop=True)))
    return out


def model_states(seq) -> list[pd.DataFrame]:
    """Table contents after each step, sorted by id."""
    state: dict = {}
    out = []
    for op, df in seq:
        if op == "D":
            for i in df["id"]:
                state.pop(int(i), None)
        else:
            for rec in df.to_dict("records"):
                state[int(rec["id"])] = rec
        out.append(pd.DataFrame(sorted(state.values(),
                                       key=lambda r: r["id"]),
                                columns=COLUMNS))
    return out


def _delta_create(table: str, schema_json: str) -> None:
    """Version 0: protocol + metaData carrying the table properties
    (change data feed on, short checkpoint interval) — what CREATE
    TABLE ... TBLPROPERTIES writes. All data goes through the engine's
    writers afterwards."""
    os.makedirs(os.path.join(table, "_delta_log"))
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {"metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json, "partitionColumns": [],
            "configuration": {
                "delta.enableChangeDataFeed": "true",
                "delta.checkpointInterval": str(DELTA_CHECKPOINT_INTERVAL)},
            "createdTime": int(time.time() * 1000)}}]
    with open(os.path.join(table, "_delta_log", f"{0:020d}.json"),
              "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")


def _delta_added_file(table: str, version: int) -> str:
    with open(os.path.join(table, "_delta_log",
                           f"{version:020d}.json")) as f:
        for line in f:
            a = json.loads(line)
            if "add" in a:
                return os.path.join(table, a["add"]["path"])
    raise ValueError(f"version {version} of {table} adds no file")


class LakeTables:
    """Writes the sequence into the three formats and remembers each
    step's version / snapshot id / instant for the reads."""

    def __init__(self, qc, root: str, seed: int):
        self.qc = qc
        self.spark = qc.spark
        self.root = root
        self.seq = batches(seed)
        self.states = model_states(self.seq)
        self.path = {f: os.path.join(root, f) for f in FORMATS}
        self.version: dict = {f: [] for f in FORMATS}
        self.commit_s = {f: 0.0 for f in FORMATS}
        self.step_s: dict = {f: [] for f in FORMATS}
        self.mid = len(self.seq) // 2

    def ingest(self) -> None:
        from pyspark.sql.types import (DoubleType, LongType, StringType,
                                       StructField, StructType)
        schema = StructType([StructField("id", LongType()),
                             StructField("k", LongType()),
                             StructField("v", DoubleType()),
                             StructField("s", StringType())])
        frames = [self.spark.createDataFrame(df, schema).coalesce(1)
                  for _op, df in self.seq]
        _delta_create(self.path["delta"], schema.json())
        for f in FORMATS:
            write = getattr(self, f"_write_{f}")
            for step, ((op, pdf), df) in enumerate(zip(self.seq, frames)):
                t0 = time.perf_counter()
                self.version[f].append(write(step, op, pdf, df))
                dt = time.perf_counter() - t0
                self.commit_s[f] += dt
                self.step_s[f].append(dt)

    def _write_delta(self, step, op, pdf, df):
        from quokka_spark.sources.delta_local import (
            delete_rows_delta_local, last_txn_version, upsert_delta_local,
            write_delta_local)
        t = self.path["delta"]
        if op in "BA":
            last = last_txn_version(t, APP_ID)
            _expect(last is None or last < step,
                    f"delta: batch {step} already committed ({last})")
            return write_delta_local(df, t, txn=(APP_ID, step))
        if op == "U":
            return upsert_delta_local(self.spark, t, df, ["id"])
        prev = self.seq[step - 1][1]
        pos = np.flatnonzero(prev["id"].isin(pdf["id"])).tolist()
        path = _delta_added_file(t, self.version["delta"][step - 1])
        return delete_rows_delta_local(t, {path: pos}, spark=self.spark)

    def _write_iceberg(self, step, op, pdf, df):
        from quokka_spark.datastream import DataStream
        from quokka_spark.sources.iceberg_local import (add_equality_deletes,
                                                        upsert_iceberg_local)
        t = self.path["iceberg"]
        if op in "BA":
            return DataStream(self.qc, df).write_iceberg(t, mode="append")
        if op == "U":
            return upsert_iceberg_local(self.spark, t, df, ["id"])
        return add_equality_deletes(t, {"id": pdf["id"].tolist()})

    def _write_hudi(self, step, op, pdf, df):
        from quokka_spark.sources.hudi_local import (upsert_hudi_mor_local,
                                                     write_hudi_mor_local)
        t = self.path["hudi"]
        if op == "B":
            return write_hudi_mor_local(df, t, recordkey="id")
        if op == "D":
            return upsert_hudi_mor_local(self.spark, t, df.select("id"),
                                         delete=True)
        # appends are inserts of new keys: keyed, so a redelivered
        # batch rewrites the same rows instead of duplicating them
        return upsert_hudi_mor_local(self.spark, t, df)

    # ---------------------------------------------------------- sizes

    def plain_bytes(self) -> int:
        """The written batches (no delete keys) stored once as one
        plain parquet file, per table."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows = pd.concat([df for op, df in self.seq if op != "D"],
                         ignore_index=True)
        path = os.path.join(self.root, "plain.parquet")
        pq.write_table(pa.Table.from_pandas(rows, preserve_index=False),
                       path)
        return os.path.getsize(path) * len(FORMATS)

    def log_files(self) -> tuple[int, int]:
        """(metadata/log files under the three tables, Delta
        checkpoint files)."""
        n = cps = 0
        for sub in (os.path.join(self.path["delta"], "_delta_log"),
                    os.path.join(self.path["iceberg"], "metadata"),
                    os.path.join(self.path["hudi"], ".hoodie")):
            for d, _dirs, files in os.walk(sub):
                n += len(files)
                cps += sum(".checkpoint" in f for f in files)
        return n, cps

    # ---------------------------------------------------------- reads

    def read_ops(self) -> list:
        """``(name, build, kind)`` per read op; ``build()`` returns a
        DataFrame (batch) or a streaming DataFrame (kind "stream").
        Delta time travel stands for the snapshot read path at an older
        version; Iceberg and Hudi get a snapshot read each."""
        from quokka_spark.sources.delta_local import (read_delta_changes,
                                                      read_delta_local)
        from quokka_spark.sources.hudi_local import read_hudi_local
        from quokka_spark.sources.iceberg_local import read_iceberg_local
        s, qc, p, v, mid = (self.spark, self.qc, self.path, self.version,
                            self.mid)
        return [
            ("delta_time_travel",
             lambda: read_delta_local(s, p["delta"], version=v["delta"][mid]),
             "time_travel"),
            ("delta_change_feed",
             lambda: read_delta_changes(s, p["delta"], 0), "change_feed"),
            # availableNow drain of the Delta stream source through a
            # stateful dedup, so the state store commits every batch
            ("delta_stream_dedup",
             lambda: qc.read_delta_stream(p["delta"], ignore_changes=True)
             .dropDuplicates(["id"]), "stream"),
            ("iceberg_snapshot", lambda: read_iceberg_local(s, p["iceberg"]),
             "snapshot"),
            ("hudi_snapshot", lambda: read_hudi_local(s, p["hudi"]),
             "snapshot"),
        ]

    def check(self, name: str, kind: str, got: pd.DataFrame) -> None:
        """Raise AssertionError unless ``got`` matches the model."""
        if kind in ("snapshot", "time_travel"):
            want = self.states[-1 if kind == "snapshot" else self.mid]
            _assert_rows(name, got[COLUMNS], want)
        elif kind == "change_feed":
            _assert_rows(name, _replay_changes(got), self.states[-1])
        else:
            written = set()
            for op, df in self.seq:
                if op != "D":
                    written.update(int(i) for i in df["id"])
            ids = set(int(i) for i in got["id"])
            _expect(len(ids) == len(got), f"{name}: duplicate keys")
            _expect(ids == written,
                    f"{name}: drained {len(ids)} keys, wrote {len(written)}")


def _assert_rows(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    g = got.sort_values("id").reset_index(drop=True)
    w = want.sort_values("id").reset_index(drop=True)
    _expect(len(g) == len(w), f"{name}: {len(g)} rows, model has {len(w)}")
    for c in COLUMNS:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        same = np.isclose(a, b, rtol=0, atol=1e-9) if c == "v" else a == b
        _expect(same.all(), f"{name}: column {c} differs from the model")


def _replay_changes(ch: pd.DataFrame) -> pd.DataFrame:
    """Fold a Delta change feed read from the first version into the
    rows it implies: the feed is a row multiset (inserts minus deletes;
    update pre/post images pair up the same way)."""
    sign = ch["_change_type"].map({"insert": 1, "update_postimage": 1,
                                   "delete": -1, "update_preimage": -1})
    _expect(sign.notna().all(),
            f"change types {set(ch['_change_type'])}")
    net = ch.assign(_n=sign).groupby(COLUMNS, as_index=False)["_n"].sum()
    _expect(((net["_n"] >= 0) & (net["_n"] <= 1)).all(),
            "change feed nets outside 0..1 per row")
    return net[net["_n"] == 1][COLUMNS]
