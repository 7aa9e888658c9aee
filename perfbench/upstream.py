"""Seeded upstream for the pull_sync workload: two cursor tables and one
snapshot_diff table, staged as parquet change logs whose visible window
grows one step per pull cycle.

- ``orders_ts``: timestamp cursor (``updated_at``), updates and inserts;
- ``items_evo``: integer cursor (``version``); the upstream table gains a
  ``tier`` column partway through the run (source-introspection evolution);
- ``stock_diff``: no cursor, pulled as a full snapshot each cycle and diffed
  against the lake; updates, inserts and deletes.

Step 0 is the initial load (the warm-up cycle); steps 1..``steps`` are the
timed cycles. The generator also answers the oracle: the upstream state at
any step.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from patuha_etl_dlt_spark.config import TableConfig

ROWS = 2_000  # rows per table at step 0
CHANGES = 200  # cursor-table row versions per step
DIFF_SHARES = (0.03, 0.01, 0.01)  # snapshot table: updated, deleted, inserted per step
EPOCH_US = 1_767_225_600 * 10**6  # 2026-01-01 UTC
STATUSES = np.array(["new", "paid", "shipped", "returned"])
TIERS = np.array(["free", "pro", "team"])

BUCKETS = 8  # small upstream tables: a few thousand rows each

CURSOR = {"orders_ts": "updated_at", "items_evo": "version"}


class Upstream:
    def __init__(self, seed: int, steps: int, root: str):
        self.root = root
        self.steps = steps
        self.step = 0  # the step the sources currently expose
        self.evo_step = max(1, steps // 2)
        rng = np.random.default_rng(seed)
        self.logs = {name: self._log(rng, name) for name in CURSOR}
        self.snapshots = self._snapshots(rng)

    # ---------------------------------------------------------- generation

    def _log(self, rng, name: str) -> pd.DataFrame:
        """Row versions of one cursor table, in cursor order."""
        steps = [np.zeros(ROWS, dtype=np.int64)]
        ids = [np.arange(ROWS, dtype=np.int64)]
        next_id = ROWS
        for s in range(1, self.steps + 1):
            n_new = CHANGES // 5
            upd = rng.integers(0, next_id, CHANGES - n_new)
            ids.append(np.concatenate([upd, np.arange(next_id, next_id + n_new)]))
            steps.append(np.full(CHANGES, s, dtype=np.int64))
            next_id += n_new
        df = pd.DataFrame({"id": np.concatenate(ids), "step": np.concatenate(steps)})
        seq = np.arange(1, len(df) + 1, dtype=np.int64)  # strictly increasing cursor
        if name == "orders_ts":
            df["updated_at"] = pd.to_datetime(EPOCH_US + seq * 1_000_000, unit="us", utc=True).astype(
                "datetime64[us, UTC]"
            )
            df["status"] = STATUSES[rng.integers(0, len(STATUSES), len(df))]
            df["amount"] = np.round(rng.random(len(df)) * 1000, 2)
        else:
            df["version"] = seq
            df["qty"] = rng.integers(0, 500, len(df)).astype(np.int32)
            df["note"] = [f"n{v}" for v in rng.integers(0, 10**6, len(df))]
            tier = TIERS[rng.integers(0, len(TIERS), len(df))].astype(object)
            df["tier"] = np.where(df["step"] >= self.evo_step, tier, None)
        return df

    def _snapshots(self, rng) -> list[pd.DataFrame]:
        state = pd.DataFrame({
            "sku": np.arange(ROWS, dtype=np.int64),
            "qty": rng.integers(0, 1000, ROWS),
            "loc": [f"L{v}" for v in rng.integers(0, 50, ROWS)],
        })
        out = [state]
        next_sku = ROWS
        upd_share, del_share, ins_share = DIFF_SHARES
        for _ in range(self.steps):
            state = state.copy()
            n = len(state)
            pick = rng.permutation(n)
            n_upd, n_del = int(n * upd_share), int(n * del_share)
            upd = pick[:n_upd]
            state.iloc[upd, state.columns.get_loc("qty")] = rng.integers(0, 1000, n_upd)
            state = state.drop(state.index[pick[n_upd : n_upd + n_del]])
            n_ins = int(n * ins_share)
            ins = pd.DataFrame({
                "sku": np.arange(next_sku, next_sku + n_ins, dtype=np.int64),
                "qty": rng.integers(0, 1000, n_ins),
                "loc": [f"L{v}" for v in rng.integers(0, 50, n_ins)],
            })
            next_sku += n_ins
            state = pd.concat([state, ins], ignore_index=True)
            out.append(state)
        return out

    def write(self) -> None:
        """Stage the logs and snapshots as parquet (the set-up's input step)."""
        for name, df in self.logs.items():
            if name == "items_evo":
                # two generations: before and after the upstream ADD COLUMN
                old = df[df["step"] < self.evo_step].drop(columns="tier")
                new = df[df["step"] >= self.evo_step]
                self._write(old, os.path.join(self.root, name, "v1"))
                self._write(new, os.path.join(self.root, name, "v2"))
            else:
                self._write(df, os.path.join(self.root, name, "v1"))
        for s, snap in enumerate(self.snapshots):
            self._write(snap, os.path.join(self.root, "stock_diff", f"s{s:04d}"))

    @staticmethod
    def _write(df: pd.DataFrame, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(path, "part-0.parquet"))

    # --------------------------------------------------------------- engine

    def configs(self) -> list[TableConfig]:
        cols = {
            "orders_ts": (("id", "long"), ("updated_at", "timestamp"), ("status", "string"),
                          ("amount", "double")),
            "items_evo": (("id", "long"), ("version", "long"), ("qty", "int"), ("note", "string")),
        }
        return [
            *(TableConfig(n, ("id",), CURSOR[n], columns=cols[n], num_buckets=BUCKETS) for n in CURSOR),
            TableConfig("stock_diff", ("sku",), "", mode="snapshot_diff", num_buckets=BUCKETS,
                        columns=(("sku", "long"), ("qty", "long"), ("loc", "string"))),
        ]

    def sources(self) -> dict:
        """Callables ``(spark, last_value) -> DataFrame`` over the staged
        logs, exposing steps ``<= self.step``."""
        from pyspark.sql import functions as F

        def cursor_source(name):
            cursor = CURSOR[name]

            def read(spark, last):
                path = os.path.join(self.root, name)
                df = spark.read.parquet(os.path.join(path, "v1"))
                if name == "items_evo" and self.step >= self.evo_step:
                    df = df.unionByName(
                        spark.read.parquet(os.path.join(path, "v2")), allowMissingColumns=True
                    )
                df = df.filter(F.col("step") <= self.step).drop("step")
                if last is not None:
                    bound = F.lit(last).cast("timestamp") if name == "orders_ts" else F.lit(last)
                    df = df.filter(F.col(cursor) > bound)
                return df

            return read

        def snapshot_source(spark, last):
            return spark.read.parquet(os.path.join(self.root, "stock_diff", f"s{self.step:04d}"))

        out = {name: cursor_source(name) for name in CURSOR}
        out["stock_diff"] = snapshot_source
        return out

    # --------------------------------------------------------------- oracle

    def live_rows(self, name: str) -> int:
        if name == "stock_diff":
            return len(self.snapshots[self.step])
        return int(self.logs[name].loc[self.logs[name]["step"] <= self.step, "id"].nunique())

    def changed_key(self, name: str, step: int) -> int:
        """A key the given step changed (the reader's lookup target)."""
        if name == "stock_diff":
            return int(self.snapshots[step]["sku"].iloc[-1])
        log = self.logs[name]
        return int(log.loc[log["step"] == step, "id"].iloc[-1])

    def expected(self, name: str, step: int) -> dict:
        """key -> value tuple of the upstream table at ``step``."""
        if name == "stock_diff":
            s = self.snapshots[step]
            return {int(k): (int(q), str(l)) for k, q, l in zip(s["sku"], s["qty"], s["loc"])}
        log = self.logs[name]
        last = log[log["step"] <= step].drop_duplicates("id", keep="last")
        if name == "orders_ts":
            micros = [t.value // 1000 for t in last["updated_at"]]
            return {
                int(k): (int(t), str(s), float(a))
                for k, t, s, a in zip(last["id"], micros, last["status"], last["amount"])
            }
        return {
            int(k): (int(v), int(q), str(n), t)
            for k, v, q, n, t in zip(last["id"], last["version"], last["qty"], last["note"], last["tier"])
        }

    def table_state(self, table, name: str) -> dict:
        """key -> value tuple of the lake table, in ``expected``'s layout."""
        from pyspark.sql import functions as F

        df = table.read()
        if name == "stock_diff":
            return {r[0]: (r[1], r[2]) for r in df.select("sku", "qty", "loc").collect()}
        if name == "orders_ts":
            rows = df.select("id", F.unix_micros("updated_at"), "status", "amount").collect()
        else:
            rows = df.select("id", "version", "qty", "note", "tier").collect()
        return {r[0]: tuple(r[1:]) for r in rows}
