"""bulk_merge: write-heavy merge-on-read (MOR) cycles on a keyed fact.

Inputs (seeded, numpy -> parquet): the initial fact (``N_ROWS`` rows,
key ``k``, group ``grp``, integer ``amount``, string ``name``) and, per
cycle, written when the cycle first runs: (1) the full snapshot with
~0.1% of rows changed, (2) a dense batch of 10% updates plus 0.1%
inserts and (3) 0.1% delete keys. The dense batch is over
``driver_mor.DRIVER_BATCH_MAX_KEYS`` keys, the snapshot change set is
under it.

Set-up loads the fact into a ``BUCKETS``-bucket MOR state and builds a
maintained ``grp`` aggregate. Each timed cycle: snapshot merge,
``refresh_agg_snapshot``, batch merge (upserts + ``delete_keys``),
``refresh_agg_snapshot``, a full ``read_mor`` aggregate while the two
deltas are still there, ``compact_mor``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import Bench, du, file_sizes, fresh_dir, med, new_bytes

N_ROWS = 50_000
TINY_ROWS = 12_000
N_GROUPS = 100
BUCKETS = 64
SNAPSHOT_CHANGE = 0.001
BATCH_UPDATE = 0.1
BATCH_INSERT = 0.001
BATCH_DELETE = 0.001
# The scan is read-only and short: repeat it so its median is steady.
READ_REPEATS = 3


class Fact:
    """The generator's own copy of the live state, so every expected
    count and checksum is computed without Spark."""

    def __init__(self, rng, n: int):
        self.rng = rng
        self.k = np.arange(n, dtype=np.int64)
        self.grp = rng.integers(0, N_GROUPS, n).astype(np.int32)
        self.amount = rng.integers(0, 1_000_000, n).astype(np.int64)
        self.next_key = n

    def table(self, idx=None) -> pa.Table:
        sl = slice(None) if idx is None else idx
        k = self.k[sl]
        return pa.table({
            "k": pa.array(k),
            "grp": pa.array(self.grp[sl]),
            "amount": pa.array(self.amount[sl]),
            "name": pa.array([f"item-{x}" for x in k]),
        })

    def bump(self, idx) -> None:
        self.amount[idx] += self.rng.integers(1, 1000, len(idx))

    def summary(self) -> dict:
        """Live rows, per-group (count, sum) and a key/value checksum."""
        counts = np.bincount(self.grp, minlength=N_GROUPS)
        sums = np.bincount(self.grp, weights=self.amount, minlength=N_GROUPS)
        return {
            "rows": len(self.k),
            "groups": {g: (int(counts[g]), int(round(sums[g]))) for g in range(N_GROUPS) if counts[g]},
            "checksum": int((self.k * 1_000_003 + self.amount).sum()),
        }


def _write(tbl: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))


class Inputs:
    """The seeded inputs: ``base`` written at creation, cycle ``c``'s
    ``c<c>/{snapshot,batch,delete}`` written by ``expected(c)`` on first
    use, which returns the cycle's expected merge counts and summaries."""

    def __init__(self, in_dir: str, seed: int, n: int):
        self.dir = in_dir
        self.n = n
        self.rng = np.random.default_rng([seed, 0xB0])
        self.fact = Fact(self.rng, n)
        _write(self.fact.table(), f"{in_dir}/base")
        self.base = self.fact.summary()
        self.cycles: list[dict] = []

    def expected(self, c: int) -> dict:
        while len(self.cycles) < c:
            self._next(len(self.cycles) + 1)
        return self.cycles[c - 1]

    def _next(self, c: int) -> None:
        f, rng, cdir = self.fact, self.rng, f"{self.dir}/c{c}"
        live = len(f.k)
        snap = rng.choice(live, max(1, round(SNAPSHOT_CHANGE * live)), replace=False)
        f.bump(snap)
        _write(f.table(), f"{cdir}/snapshot")
        after_snapshot = f.summary()
        n_upd = round(BATCH_UPDATE * live)
        n_del = max(1, round(BATCH_DELETE * live))
        pick = rng.choice(live, n_upd + n_del, replace=False)
        upd, dele = np.sort(pick[:n_upd]), np.sort(pick[n_upd:])
        f.bump(upd)
        n_ins = max(1, round(BATCH_INSERT * self.n))
        new_k = np.arange(f.next_key, f.next_key + n_ins, dtype=np.int64)
        f.next_key += n_ins
        batch = pa.concat_tables([f.table(upd), _new_rows(rng, new_k)])
        _write(batch, f"{cdir}/batch")
        _write(pa.table({"k": pa.array(f.k[dele])}), f"{cdir}/delete")
        keep = np.ones(live, dtype=bool)
        keep[dele] = False
        new = batch.slice(n_upd)
        f.k = np.concatenate([f.k[keep], new_k])
        f.grp = np.concatenate([f.grp[keep], new.column("grp").to_numpy()])
        f.amount = np.concatenate([f.amount[keep], new.column("amount").to_numpy()])
        self.cycles.append({
            "snapshot": {"insert": 0, "update": len(snap), "delete": 0},
            "batch": {"insert": n_ins, "update": n_upd, "delete": n_del},
            "after_snapshot": after_snapshot,
            "after_batch": f.summary(),
        })


def _new_rows(rng, keys) -> pa.Table:
    return pa.table({
        "k": pa.array(keys),
        "grp": pa.array(rng.integers(0, N_GROUPS, len(keys)).astype(np.int32)),
        "amount": pa.array(rng.integers(0, 1_000_000, len(keys)).astype(np.int64)),
        "name": pa.array([f"item-{x}" for x in keys]),
    })


def _merge_check(want):
    def check(r):
        got = {x: r.get(x) for x in want}
        return f"merge counts {got} != {want}" if got != want else None
    return check


def _groups_check(want, corrupt=False):
    def check(rows):
        got = {int(r[0]): (int(r[1]), int(r[2])) for r in rows}
        if corrupt and got:
            g = next(iter(got))
            got[g] = (got[g][0] + 1, got[g][1])
        if got != want["groups"]:
            bad = [g for g in set(got) | set(want["groups"]) if got.get(g) != want["groups"].get(g)]
            return f"group totals differ in groups {sorted(bad)[:5]}"
        return None
    return check


class State:
    """One MOR table plus its maintained aggregate under ``root``."""

    def __init__(self, root):
        self.mor = f"{root}/mor"
        self.agg = f"{root}/agg"


def _load(b: Bench, st: State, in_dir: str) -> None:
    from presencia_etl_spark.plans.incremental_agg import build_agg_snapshot
    from presencia_etl_spark.sinks.mor import merge_upsert_mor
    from presencia_etl_spark.sources.readers import read_parquet

    src = read_parquet(b.spark, f"{in_dir}/base")
    b.op("load", lambda: merge_upsert_mor(b.spark, src, st.mor, ["k"], num_buckets=BUCKETS,
                                          compact_every=None), record=False)
    b.op("build_agg", lambda: build_agg_snapshot(b.spark, st.mor, st.agg, ["grp"],
                                                 sum_cols=["amount"]), record=False)


def _cycle(b: Bench, ctx: dict, st: State, in_dir: str, c: int, want: dict) -> None:
    from presencia_etl_spark.plans import incremental_agg as ia
    from presencia_etl_spark.sinks import digest_store
    from presencia_etl_spark.sinks import mor
    from presencia_etl_spark.sources.readers import read_parquet
    from pyspark.sql import functions as F

    spark = b.spark
    cdir = f"{in_dir}/c{c}"
    row_bytes = ctx["row_bytes"]

    def merge(op, frame, delete=None):
        b.values["sidecar_valid"].append(digest_store.load(st.mor) is not None)
        before = file_sizes(st.mor)
        kw = {"delete_keys": delete} if delete is not None else {}
        r = b.op(op, lambda: mor.merge_upsert_mor(
            spark, frame, st.mor, ["k"], num_buckets=BUCKETS, compact_every=None, **kw),
            _merge_check(want[op.split("_")[1]]))
        if r is not None:
            b.values["delta_files"].append(r["delta_files"])
            changed = r["insert"] + r["update"] + r["delete"]
            b.values["mor_write_amp"].append(new_bytes(before, st.mor) / (changed * row_bytes))

    def refresh():
        r = b.op("refresh", lambda: ia.refresh_agg_snapshot(spark, st.mor, st.agg))
        if r is not None:
            mode = r.get("mode")
            if mode == "incremental":
                mode = "driver" if r.get("path") == "driver" else "spark"
            b.values[f"refresh_mode.{mode}"].append(1)
        return b.samples["refresh"][-1] if r is not None else 0.0

    def agg_check(summary):
        def check():
            rows = ia.read_agg_snapshot(spark, st.agg).select("grp", "n_rows", "sum_amount").collect()
            return _groups_check(summary)(rows)
        return check

    merge("merge_snapshot", read_parquet(spark, f"{cdir}/snapshot"))
    r1 = refresh()
    b.verify("agg_after_snapshot", agg_check(want["after_snapshot"]))
    merge("merge_batch", read_parquet(spark, f"{cdir}/batch"),
          read_parquet(spark, f"{cdir}/delete"))
    r2 = refresh()
    b.samples["view_refresh"].append(r1 + r2)
    b.verify("agg_after_batch", agg_check(want["after_batch"]))
    b.values["state_bytes"].append(du(st.mor))
    b.values["scan_files"].append(len(mor.read_mor(spark, st.mor).inputFiles()))
    for i in range(READ_REPEATS):
        b.op("scan", lambda: mor.read_mor(spark, st.mor).groupBy("grp").agg(
            F.count(F.lit(1)), F.sum("amount")).collect(),
            _groups_check(want["after_batch"], corrupt=b.corrupt and c == 1 and i == 0))
    base_before = file_sizes(f"{st.mor}/base")
    b.op("compact", lambda: mor.compact_mor(spark, st.mor),
         lambda r: None if r["deltas_folded"] == 2 else f"folded {r['deltas_folded']} deltas, want 2")
    b.values["compact_bytes"].append(new_bytes(base_before, f"{st.mor}/base"))


def setup(b: Bench, ctx: dict) -> None:
    in_dir = str(fresh_dir(b.work / "bulk_in"))
    n = TINY_ROWS if b.tiny else N_ROWS
    inputs = Inputs(in_dir, b.seed, n)
    b.note("bulk inputs generated")
    ctx.update(in_dir=in_dir, inputs=inputs, state=State(str(b.work / "bulk_state")), cycle=0)
    _load(b, ctx["state"], in_dir)
    b.note("fact loaded")
    ctx["row_bytes"] = du(ctx["state"].mor) / n
    ctx["summary"] = inputs.base


def measure(b: Bench, ctx: dict, seconds: float) -> None:
    t0 = time.perf_counter()
    while True:
        c = ctx["cycle"] = ctx["cycle"] + 1
        want = ctx["inputs"].expected(c)
        _cycle(b, ctx, ctx["state"], ctx["in_dir"], c, want)
        ctx["summary"] = want["after_batch"]
        if time.perf_counter() - t0 >= seconds:
            return


def finish(b: Bench, ctx: dict) -> None:
    """Final live row count and key/value checksum against the
    generator's."""
    from presencia_etl_spark.sinks.mor import read_mor
    from pyspark.sql import functions as F

    st, want = ctx["state"], ctx["summary"]
    if b.corrupt:
        base = f"{st.mor}/base"
        victim = next(
            os.path.join(d, f) for d, _s, fs in sorted(os.walk(base)) for f in sorted(fs)
            if f.endswith(".parquet")
        )
        os.remove(victim)

    def check():
        row = read_mor(b.spark, st.mor).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k") * F.lit(1_000_003) + F.col("amount")).alias("cs"),
        ).collect()[0]
        got = (int(row["n"]), int(row["cs"] or 0))
        exp = (want["rows"], want["checksum"])
        return f"live (rows, checksum) {got} != {exp}" if got != exp else None

    b.verify("live_checksum", check)
    # Space cost: the live rows written once as compacted parquet.
    live_dir = str(b.work / "bulk_live")
    shutil.rmtree(live_dir, ignore_errors=True)
    read_mor(b.spark, st.mor).coalesce(4).write.parquet(live_dir)
    ctx["live_bytes"] = du(live_dir)
    shutil.rmtree(live_dir, ignore_errors=True)


def op_metrics(b: Bench, ctx: dict) -> dict[str, float]:
    live = ctx.get("live_bytes") or 1
    return {
        "op.merge_snapshot_s": b.median("merge_snapshot"),
        "op.merge_batch_s": b.median("merge_batch"),
        "op.view_refresh_s": b.median("view_refresh"),
        "op.scan_s": b.median("scan"),
        "op.compact_s": b.median("compact"),
        "op.state_bytes_per_live_byte": med(b.values["state_bytes"]) / live,
    }


def cycle_s(ops: dict[str, float]) -> float:
    return (ops["op.merge_snapshot_s"] + ops["op.merge_batch_s"] + ops["op.view_refresh_s"]
            + ops["op.scan_s"] + ops["op.compact_s"])


def install_trace(b: Bench, ctx: dict) -> None:
    from presencia_etl_spark.plans import incremental_agg as ia
    from presencia_etl_spark.sinks import driver_mor
    from presencia_etl_spark.sinks import mor

    tr = b.tracer
    tr.patch(mor, "merge_upsert_mor", "sinks.mor.merge")
    tr.patch(mor, "read_mor", "sinks.mor.read")
    tr.patch(mor, "compact_mor", "sinks.mor.compact")
    tr.patch(ia, "refresh_agg_snapshot", "plans.incremental_agg.refresh")
    tr.patch(driver_mor, "try_trickle", "sinks.driver_mor.try_trickle")
    driver_mor.decline_counts(reset=True)


def layer_metrics(b: Bench, ctx: dict) -> dict[str, float]:
    from metrics import DECLINE_REASONS, REFRESH_MODES
    from presencia_etl_spark.sinks import driver_mor
    from presencia_etl_spark.sources.readers import read_parquet

    tr = b.tracer
    out = {
        "sinks.mor.merge_s": med(tr.durations("sinks.mor.merge")),
        "sinks.mor.delta_files": med(b.values["delta_files"]),
        "sinks.mor.write_amp": med(b.values["mor_write_amp"]),
        "sinks.mor.scan_files": med(b.values["scan_files"]),
        "sinks.mor.compact_bytes_rewritten": med(b.values["compact_bytes"]),
        "plans.incremental_agg.refresh_s": med(tr.durations("plans.incremental_agg.refresh")),
        "session.jobs_per_merge_snapshot": med(b.job_counts["merge_snapshot"]),
        "session.jobs_per_merge_batch": med(b.job_counts["merge_batch"]),
    }
    modes = {m: len(b.values[f"refresh_mode.{m}"]) for m in REFRESH_MODES}
    for m, n in modes.items():
        out[f"plans.incremental_agg.refresh_mode.{m}"] = n
    total = sum(modes.values())
    out["sinks.driver_mor.driver_path_ratio"] = modes["driver"] / total if total else 0.0
    declines = driver_mor.decline_counts()
    for r in DECLINE_REASONS[:-1]:
        out[f"sinks.driver_mor.declines.{r}"] = declines.pop(r, 0)
    out["sinks.driver_mor.declines.other"] = sum(declines.values())
    sv = b.values["sidecar_valid"]
    out["sinks.digest_store.sidecar_valid_ratio"] = sum(sv) / len(sv) if sv else 0.0
    snap = f"{ctx['in_dir']}/c{ctx['cycle']}/snapshot"
    t0 = time.perf_counter()
    read_parquet(b.spark, snap).write.format("noop").mode("overwrite").save()
    out["sources.read_exec_s"] = time.perf_counter() - t0
    return out
