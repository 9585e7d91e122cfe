"""presencia_sync: the reference's daily cycle at reference scale.

Inputs: the 10 registry tables from ``synth_presencia_tables(seed)``
(~102K rows, every column a string) written to parquet, plus one
snapshot per change set of the two tables that change
(``Liquidaciones``: ~0.1% of the synced rows updated and a few new
``CUPLIQUIDA`` keys; ``TbComentariosSocios``: a few new comments),
written when a cycle first needs it.

Set-up runs the first steps of a daily sequence, untimed, into the
warehouse the syncs use: a full load; change set 1, whose sync
backfills the CDC key column with a full rewrite and writes no digest
sidecar; a sync with nothing changed, which scans the state and writes
the sidecar. Those steps happen once per warehouse and warm the plans
the timed loop runs.

Timed loop: a full load into a fresh warehouse of its own; then cycles
k = 2, 3, ... on the sync warehouse of (sync with nothing changed, sync
with change set k, ``reconcile_report`` on ``Liquidaciones``) until
the window is over, at least one.
"""

from __future__ import annotations

import importlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from common import Bench, du, fresh_dir, file_sizes, med, new_bytes

# The plans package re-exports functions under its submodules' names.
FULL_SYNC = "presencia_etl_spark.plans.full_sync"
INCREMENTAL_SYNC = "presencia_etl_spark.plans.incremental_sync"

# The report is read-only and short: repeat it so its median is steady.
READ_REPEATS = 3
NEW_KEYS = 5
NEW_COMMENTS = 5
CHANGED_TABLES = ("Liquidaciones", "TbComentariosSocios")
TINY_SIZES = {"Liquidaciones": 3000, "TbComentariosSocios": 400, "Socios": 300}
# Comments whose MinHash signatures the Python-worker check computes.
WORKER_CHECK_ROWS = 500


def _filtered_counts(frames: dict[str, pd.DataFrame]) -> dict[str, int]:
    """Rows each table keeps after the registry's filters and semi join
    (what a full load writes)."""
    liq = frames["Liquidaciones"]
    soc = frames["Socios"]
    soc_keys = set(soc.loc[soc.COBSOCIO == "30", "NUMSOCIO"])
    out = {n: len(f) for n, f in frames.items()}
    out["Liquidaciones"] = int(
        ((liq.COBLIQUIDA == "30") & (liq.BAJA.isna() | (liq.BAJA != "1"))).sum()
    )
    out["Socios"] = int((soc.COBSOCIO == "30").sum())
    out["Cobradores"] = int((frames["Cobradores"].NUMCOB == "30").sum())
    out["TbComentariosSocios"] = int(frames["TbComentariosSocios"].NUMSOCIO.isin(soc_keys).sum())
    return out


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([(c, pa.string()) for c in df.columns])
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


class ChangeSets:
    """Seeded change sets, each applied on top of the previous one.
    ``expected(k)`` writes snapshots 1..k of the changing tables under
    ``<in_dir>/c<k>/`` on first use and returns change set k's CDC
    counts {table: (insert, update)}."""

    def __init__(self, frames, seed: int, in_dir: str):
        self.liq = frames["Liquidaciones"].copy()
        self.com = frames["TbComentariosSocios"].copy()
        soc = frames["Socios"]
        self.members = soc.loc[soc.COBSOCIO == "30", "NUMSOCIO"].unique()
        self.rng = np.random.default_rng([seed, 0x5C])
        self.dir = f"{in_dir}/c"
        self.counts: list[dict] = []

    def expected(self, k: int) -> dict:
        while len(self.counts) < k:
            self._next(len(self.counts) + 1)
        return self.counts[k - 1]

    def _next(self, k: int) -> None:
        liq, com, rng = self.liq, self.com, self.rng
        next_state = {"CA": "DE", "DE": "AD", "AD": "BO", "BO": "CA"}
        synced = np.flatnonzero(
            ((liq.COBLIQUIDA == "30") & (liq.BAJA.isna() | (liq.BAJA != "1"))).to_numpy()
        )
        n_upd = max(1, round(0.001 * len(synced)))
        victims = rng.choice(synced, n_upd, replace=False)
        est = liq.columns.get_loc("ESTLIQUIDA")
        imp = liq.columns.get_loc("IMPLIQUIDA")
        for v in victims:
            liq.iat[v, est] = next_state.get(liq.iat[v, est], "CA")
            liq.iat[v, imp] = f"{rng.integers(100, 30000)}.{k:02d}"
        donors = liq.iloc[rng.choice(synced, NEW_KEYS, replace=False)].copy()
        donors["CUPLIQUIDA"] = [f"CUPN{k:03d}{j:04d}" for j in range(NEW_KEYS)]
        donors["BAJA"] = ""
        self.liq = liq = pd.concat([liq, donors], ignore_index=True)
        new_com = com.iloc[rng.choice(len(com), NEW_COMMENTS, replace=False)].copy()
        new_com["IdComment"] = [str(10_000_000 + k * 100 + j) for j in range(NEW_COMMENTS)]
        new_com["NUMSOCIO"] = rng.choice(self.members, NEW_COMMENTS)
        new_com["Comment"] = [f"new comment {k}-{j}" for j in range(NEW_COMMENTS)]
        self.com = com = pd.concat([com, new_com], ignore_index=True)
        _write(liq, f"{self.dir}{k}/Liquidaciones")
        _write(com, f"{self.dir}{k}/TbComentariosSocios")
        self.counts.append({
            "Liquidaciones": (NEW_KEYS, n_upd),
            "TbComentariosSocios": (NEW_COMMENTS, 0),
        })


def setup(b: Bench, ctx: dict) -> None:
    from presencia_etl_spark.plans.presencia_fixture import synth_presencia_tables
    from presencia_etl_spark.sources.registry import PRESENCIA_REGISTRY

    spark = b.spark
    in_dir = str(b.work / "presencia_in")
    tables = synth_presencia_tables(spark, sizes=TINY_SIZES if b.tiny else None, seed=b.seed)
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{in_dir}/base/{name}")
    frames = {n: pd.read_parquet(f"{in_dir}/base/{n}") for n in tables}
    ctx.update(in_dir=in_dir, names=list(tables), registry=PRESENCIA_REGISTRY,
               full_counts=_filtered_counts(frames),
               changes=ChangeSets(frames, b.seed, in_dir))
    b.note("presencia tables written")

    # The first steps of a daily sequence, untimed, into the warehouse the
    # timed syncs use (see the module docstring).
    fs = importlib.import_module(FULL_SYNC)
    inc = importlib.import_module(INCREMENTAL_SYNC)
    wh = ctx["wh"] = str(fresh_dir(b.work / "wh_sync"))
    src = source(b, ctx, 0)
    b.op("prime.full_load", lambda: fs.full_sync(spark, src, PRESENCIA_REGISTRY, wh),
         _check_full(ctx["full_counts"]), record=False)
    want1 = ctx["changes"].expected(1)
    src = source(b, ctx, 1)
    for name, want in (("prime.sync1", want1), ("prime.nochange", None)):
        b.op(name, lambda: inc.incremental_sync(spark, src, PRESENCIA_REGISTRY, wh),
             _check_sync(want), record=False)
    ctx["k"] = 1
    b.note("sync warehouse primed")
    _check_workers(b, ctx)


def _check_workers(b: Bench, ctx: dict) -> None:
    """Python workers must import the package: MinHash signatures of the
    generated comments through the pandas UDF path (runs in Python
    workers) must equal the JVM-only SQL path's, bit for bit."""
    from presencia_etl_spark.operators.dedup import minhash_signatures

    com = (b.spark.read.parquet(f"{ctx['in_dir']}/base/TbComentariosSocios")
           .orderBy("IdComment").limit(WORKER_CHECK_ROWS))

    def check():
        got = {r[0]: list(r[1]) for r in
               minhash_signatures(com, "IdComment", "Comment", use_arrow=True).collect()}
        want = {r[0]: list(r[1]) for r in
                minhash_signatures(com, "IdComment", "Comment", use_arrow=False).collect()}
        return None if got == want else "Python-worker MinHash differs from the SQL path"

    b.verify("python_workers", check)


def source(b: Bench, ctx: dict, k: int) -> dict:
    """Input frames of cycle ``k`` (0 = the ``base`` snapshot), read
    through the package's parquet reader."""
    from presencia_etl_spark.sources.readers import read_parquet

    out = {}
    for n in ctx["names"]:
        sub = f"c{k}" if (k > 0 and n in CHANGED_TABLES) else "base"
        out[n] = read_parquet(b.spark, f"{ctx['in_dir']}/{sub}/{n}")
    return out


def _check_full(want: dict):
    def check(counts):
        bad = {n: (counts.get(n), want[n]) for n in want if counts.get(n) != want[n]}
        return f"row counts (got, want) {bad}" if bad else None
    return check


def _check_sync(expected):
    """``expected``: {table: (insert, update)} for a change sync; None
    for a sync where nothing changed (0/0 on every keyed table)."""
    def check(res):
        bad = {}
        for n, r in res.items():
            if r.get("mode") == "full_refresh":
                continue
            want = (expected or {}).get(n, (0, 0))
            if (r["insert"], r["update"]) != want:
                bad[n] = ((r["insert"], r["update"]), want)
        return f"CDC (insert, update) got/want {bad}" if bad else None
    return check


def _check_reconcile(rows):
    diffs = [(r["section"], r["metric"]) for r in rows if r["diff"] != "OK"]
    return f"reconcile differences {diffs[:5]}" if diffs else None


def measure(b: Bench, ctx: dict, seconds: float) -> None:
    from presencia_etl_spark.operators.filters import apply_filters
    from presencia_etl_spark.plans.reconcile import reconcile_report
    from presencia_etl_spark.sinks import digest_store

    fs = importlib.import_module(FULL_SYNC)
    inc = importlib.import_module(INCREMENTAL_SYNC)
    spark, reg, changes = b.spark, ctx["registry"], ctx["changes"]
    liq_cfg = reg["Liquidaciones"]
    t0 = time.perf_counter()
    full_wh = str(fresh_dir(b.work / "wh_full"))
    src0 = source(b, ctx, 0)
    b.op("full_load", lambda: fs.full_sync(spark, src0, reg, full_wh),
         _check_full(ctx["full_counts"]))
    shutil.rmtree(full_wh, ignore_errors=True)
    wh = ctx["wh"]
    liq_path = f"{wh}/Liquidaciones"
    while True:
        k = ctx["k"] = ctx["k"] + 1
        want = changes.expected(k)
        prev, cur = source(b, ctx, k - 1), source(b, ctx, k)
        b.values["sidecar_valid"].append(digest_store.load(liq_path) is not None)
        b.op("sync_nochange", lambda: inc.incremental_sync(spark, prev, reg, wh),
             _check_sync(None))
        b.values["sidecar_valid"].append(digest_store.load(liq_path) is not None)
        before = file_sizes(liq_path)
        state_bytes = du(liq_path)
        state_rows = ctx["full_counts"]["Liquidaciones"] + NEW_KEYS * (k - 1)
        b.op("sync_change", lambda: inc.incremental_sync(spark, cur, reg, wh),
             _check_sync(want))
        if state_bytes:
            changed_bytes = sum(want["Liquidaciones"]) * state_bytes / state_rows
            b.values["writers_write_amp"].append(new_bytes(before, liq_path) / changed_bytes)
        src_liq = apply_filters(cur["Liquidaciones"], liq_cfg.filters)
        for _ in range(READ_REPEATS):
            b.op(
                "reconcile",
                lambda: reconcile_report(
                    src_liq, spark.read.parquet(liq_path), "CUPLIQUIDA", state_col="ESTLIQUIDA"
                ).collect(),
                _check_reconcile,
            )
        if time.perf_counter() - t0 >= seconds:
            break


def finish(b: Bench, ctx: dict) -> None:
    """After the last cycle no synced key may be missing from the target."""
    from presencia_etl_spark.operators.filters import apply_filters
    from presencia_etl_spark.plans.reconcile import key_reconcile

    wh, k = ctx["wh"], ctx["k"]
    liq_path = f"{wh}/Liquidaciones"
    if b.corrupt:
        victim = sorted(p for p in os.listdir(liq_path) if p.startswith("part-"))[0]
        os.remove(os.path.join(liq_path, victim))
    src = apply_filters(source(b, ctx, k)["Liquidaciones"], ctx["registry"]["Liquidaciones"].filters)

    def check():
        n = key_reconcile(src, b.spark.read.parquet(liq_path), ["CUPLIQUIDA"]).count()
        return f"{n} keys differ between source and target" if n else None

    b.verify("key_reconcile", check)


def op_metrics(b: Bench, ctx: dict) -> dict[str, float]:
    return {
        "op.full_load_s": b.median("full_load"),
        "op.sync_nochange_s": b.median("sync_nochange"),
        "op.sync_change_s": b.median("sync_change"),
        "op.reconcile_s": b.median("reconcile"),
    }


def cycle_s(ops: dict[str, float]) -> float:
    return (ops["op.full_load_s"] + ops["op.sync_nochange_s"]
            + ops["op.sync_change_s"] + ops["op.reconcile_s"])


def install_trace(b: Bench, ctx: dict) -> None:
    """Spans around the layer calls the plans make, patched where the
    plans resolve them."""
    from presencia_etl_spark.plans import generations

    fs = importlib.import_module(FULL_SYNC)
    inc = importlib.import_module(INCREMENTAL_SYNC)
    tr = b.tracer

    def per_table(orig):
        def run_per_table(configs, tables, work, max_parallel=4):
            parent = tr.current()
            layer = "plans.full_sync" if tr.op == "full_load" else "plans.incremental_sync"

            def traced(name, cfg):
                tr.adopt(parent)
                with tr.span(f"{layer}.table", table=name):
                    return work(name, cfg)

            with tr.span(f"{layer}.run_per_table"):
                return orig(configs, tables, traced, max_parallel)
        return run_per_table

    tr.patch(fs, "run_per_table", wrap=per_table)
    tr.patch(generations, "record_generation", "plans.generations.record")
    tr.patch(inc, "merge_upsert_parquet", "sinks.writers.merge")
    tr.patch(fs, "overwrite_parquet", "sinks.writers.overwrite")
    tr.patch(inc, "overwrite_parquet", "sinks.writers.overwrite")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def layer_metrics(b: Bench, ctx: dict) -> dict[str, float]:
    from presencia_etl_spark.functions.hashing import with_row_hash
    from presencia_etl_spark.operators.cdc import cdc_classify
    from presencia_etl_spark.plans.full_sync import prepare_table

    tr, spark = b.tracer, b.spark
    syncs = ("sync_nochange", "sync_change")
    out = {}
    for layer, ops in (("plans.full_sync", ("full_load",)), ("plans.incremental_sync", syncs)):
        per_op: dict[int, list[float]] = {}
        for s in tr.spans_of(f"{layer}.table", ops):
            per_op.setdefault(s["trace"], []).append(s["end"] - s["start"])
        out[f"{layer}.table_s.max"] = med([max(v) for v in per_op.values()])
        out[f"{layer}.table_s.sum"] = med([sum(v) for v in per_op.values()])
    out["plans.generations.record_s"] = med(tr.durations("plans.generations.record", syncs))
    out["sinks.writers.merge_s"] = med(tr.durations("sinks.writers.merge", syncs))
    out["sinks.writers.write_amp"] = med(b.values["writers_write_amp"])
    sv = b.values["sidecar_valid"]
    out["sinks.digest_store.sidecar_valid_ratio"] = sum(sv) / len(sv) if sv else 0.0
    for op in ("full_load", "sync_nochange", "sync_change"):
        out[f"session.jobs_per_{op}"] = med(b.job_counts[op])

    # Layer probes: each layer's work materialized on its own (noop sink).
    wh, k = ctx["wh"], ctx["k"]
    src = source(b, ctx, k)
    cfg = ctx["registry"]["Liquidaciones"]
    liq = src["Liquidaciones"]
    out["sources.read_exec_s"] = _timed(lambda: [_noop(df) for df in source(b, ctx, k).values()])
    out["functions.prepare_exec_s"] = _timed(lambda: _noop(prepare_table(liq, cfg)))
    n_rows = liq.count()
    hash_s = _timed(lambda: _noop(with_row_hash(liq, liq.columns)))
    out["functions.hash_rows_per_s"] = n_rows / hash_s if hash_s else 0.0
    tgt = spark.read.parquet(f"{wh}/Liquidaciones")
    out["operators.cdc.classify_exec_s"] = _timed(
        lambda: _noop(cdc_classify(prepare_table(liq, cfg), tgt, ["CUPLIQUIDA"]))
    )
    return out
