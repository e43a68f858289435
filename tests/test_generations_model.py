"""Model-based consistency walk for the generation-pointer layer.

A seeded random sequence of lake operations — append, compact (vacuum at
end or deferred), rollback, explicit vacuum — runs against both the real
table and a driver-side dict model.  After
EVERY step, ``generations.read_table`` must equal the model exactly: no
lost appends, no resurrected superseded rows, no duplicates from a
half-applied rewrite, no rows surviving past a rollback point, regardless
of operation interleaving.  A manifest-pruned range read is checked at
every step too — the manifest is built once at bootstrap and then only
refreshed when compaction happens to run, so the walk also proves data
skipping fails OPEN (never drops a live file) across arbitrarily stale
stats and every pointer state.  This is the invariant the per-op tests
check pointwise; the walk checks it compositionally (the bug class where
op A's leftover state breaks op B).
"""

from __future__ import annotations

import os
import random

import pyspark.sql.functions as F
import pytest

from cardano_analytics_duckdb_spark.lake.generations import (
    read_table,
    vacuum_superseded,
)
from cardano_analytics_duckdb_spark.lake.lock import maintenance_lock
from cardano_analytics_duckdb_spark.streaming.ingest import (
    _compact_lake_locked,
    _rollback_lake_locked,
)

SCHEMA = "k long, v string, slot long, slot_group long"
N_STEPS = 16
SEED = 20260814


def _lake_rows(spark, t):
    return sorted(
        map(
            tuple,
            read_table(spark, t)
            .select("k", "v", "slot", "slot_group")
            .collect(),
        )
    )


def _model_rows(model):
    return sorted((k, v, s, g) for k, (v, s, g) in model.items())


def test_random_walk_matches_model(spark, tmp_path):
    _run_generation_walk(spark, str(tmp_path), SEED, N_STEPS)


def _run_generation_walk(spark, root: str, seed: int, n_steps: int):
    rng = random.Random(seed)
    t = os.path.join(root, "t")
    model: dict[int, tuple[str, int, int]] = {}
    next_key = 0

    def fresh_rows(n):
        nonlocal next_key
        out = []
        for _ in range(n):
            slot = rng.randrange(0, 300)
            g = (slot // 100) * 100
            out.append((next_key, f"v{next_key}", slot, g))
            model[next_key] = (f"v{next_key}", slot, g)
            next_key += 1
        return out

    # bootstrap with a plain append so every op has data to work on
    spark.createDataFrame(fresh_rows(6), SCHEMA).write.mode(
        "append"
    ).partitionBy("slot_group").parquet(t)
    # build the stats manifest ONCE; compaction refreshes it in passing,
    # every other op leaves it stale — pruned reads must stay exact anyway
    from cardano_analytics_duckdb_spark.lake.manifest import (
        build_manifest,
        read_pruned_box_with_bound,
    )

    build_manifest(spark, t)

    def _pruned_rows(lo, hi):
        return sorted(
            map(
                tuple,
                read_pruned_box_with_bound(spark, t, [("slot", lo, hi)])[0]
                .select("k", "v", "slot", "slot_group")
                .collect(),
            )
        )

    ops = ["append", "compact", "compact_defer", "rollback", "vacuum"]
    history = []
    for step in range(n_steps):
        op = rng.choice(ops)
        history.append(op)
        if op == "append":
            spark.createDataFrame(
                fresh_rows(rng.randint(1, 4)), SCHEMA
            ).write.mode("append").partitionBy("slot_group").parquet(t)
        elif op in ("compact", "compact_defer"):
            with maintenance_lock(spark, root, owner=f"walk-{step}"):
                _compact_lake_locked(
                    spark, root, tables=["t"],
                    vacuum="end" if op == "compact" else "defer",
                )
        elif op == "rollback":
            to_slot = rng.choice([60, 140, 230])
            with maintenance_lock(spark, root, owner=f"walk-{step}"):
                _rollback_lake_locked(
                    spark, root, to_slot, tables=["t"],
                    vacuum=rng.choice(["end", "defer"]),
                )
            for k in [k for k, (_, s, _) in model.items() if s > to_slot]:
                del model[k]
        elif op == "vacuum":
            vacuum_superseded(spark, t)
        if not model:
            continue  # a rollback can empty the table; read would raise
        got = _lake_rows(spark, t)
        assert got == _model_rows(model), (
            f"divergence after step {step} ({op}); history={history}"
        )
        # no duplicate keys ever survive any interleaving
        assert len({k for k, _, _, _ in got}) == len(got)
        # data skipping over the (possibly stale) manifest stays exact
        lo = rng.randrange(0, 200)
        hi = lo + rng.randrange(20, 120)
        expect = sorted(
            (k, v, s, g)
            for k, (v, s, g) in model.items()
            if lo <= s <= hi
        )
        assert _pruned_rows(lo, hi) == expect, (
            f"pruned-read divergence after step {step} ({op}) on "
            f"slot in [{lo}, {hi}]; history={history}"
        )

    # end state: a final vacuum reclaims everything stale, rows unchanged —
    # unless the walk ended with an emptied table (rollback to origin),
    # where the documented contract is a DOMAIN error from read_table
    # (soak seed 20260828 ended exactly there and hit Spark's raw
    # UNABLE_TO_INFER_SCHEMA before read_table translated it)
    vacuum_superseded(spark, t)
    if model:
        assert _lake_rows(spark, t) == _model_rows(model)
        assert read_table(spark, t).filter(F.col("k").isNull()).count() == 0
    else:
        with pytest.raises(ValueError, match="no live data"):
            read_table(spark, t)


def test_random_walk_binary_pruning_stays_exact(spark, tmp_path):
    """r9 sibling walk for the binary-stats manifest: a seeded random
    interleaving of append / compact / rollback / vacuum /
    update_manifest / refresh_manifest, with a BINARY policy column in
    the data.  After every step, a policy-equality pruned read and a
    (policy x slot) box read must equal the model exactly — data
    skipping over hex-encoded binary bounds fails OPEN across
    arbitrarily stale stats, generation rewrites, and the O(delta)
    incremental refresh paths."""
    _run_binary_walk(spark, str(tmp_path), 20260815, 14)


def _run_binary_walk(spark, root: str, seed: int, n_steps: int):
    from cardano_analytics_duckdb_spark.lake.manifest import (
        build_manifest,
        read_pruned_box_with_bound,
        refresh_manifest,
        update_manifest,
    )

    rng = random.Random(seed)
    t = os.path.join(root, "t")
    policies = [bytes([p]) * 28 for p in (1, 2, 3, 4)]
    schema = "k long, v string, pid binary, slot long, slot_group long"
    model: dict[int, tuple[str, bytes, int, int]] = {}
    next_key = 0

    def fresh_rows(n):
        nonlocal next_key
        out = []
        for _ in range(n):
            slot = rng.randrange(0, 300)
            g = (slot // 100) * 100
            pid = rng.choice(policies)
            out.append((next_key, f"v{next_key}", bytearray(pid), slot, g))
            model[next_key] = (f"v{next_key}", pid, slot, g)
            next_key += 1
        return out

    def lake_rows():
        return sorted(
            (r["k"], r["v"], bytes(r["pid"]), r["slot"], r["slot_group"])
            for r in read_table(spark, t).collect()
        )

    def model_rows():
        return sorted(
            (k, v, p, s, g) for k, (v, p, s, g) in model.items()
        )

    spark.createDataFrame(fresh_rows(8), schema).write.mode(
        "append"
    ).partitionBy("slot_group").parquet(t)
    build_manifest(spark, t)

    ops = ["append", "compact", "rollback", "vacuum",
           "update_manifest", "refresh_manifest"]
    history = []
    for step in range(n_steps):
        op = rng.choice(ops)
        history.append(op)
        if op == "append":
            spark.createDataFrame(
                fresh_rows(rng.randint(1, 4)), schema
            ).write.mode("append").partitionBy("slot_group").parquet(t)
        elif op == "compact":
            with maintenance_lock(spark, root, owner=f"bwalk-{step}"):
                _compact_lake_locked(
                    spark, root, tables=["t"],
                    vacuum=rng.choice(["end", "defer"]),
                )
        elif op == "rollback":
            to_slot = rng.choice([60, 140, 230])
            with maintenance_lock(spark, root, owner=f"bwalk-{step}"):
                _rollback_lake_locked(
                    spark, root, to_slot, tables=["t"],
                    vacuum=rng.choice(["end", "defer"]),
                )
            for k in [
                k for k, (_, _, s, _) in model.items() if s > to_slot
            ]:
                del model[k]
        elif op == "vacuum":
            vacuum_superseded(spark, t)
        elif op == "update_manifest":
            update_manifest(spark, t)
        elif op == "refresh_manifest":
            refresh_manifest(spark, t)
        if not model:
            continue
        assert lake_rows() == model_rows(), (
            f"divergence after step {step} ({op}); history={history}"
        )
        # binary-equality pruned read stays exact under any staleness
        target = rng.choice(policies)
        got_eq = sorted(
            (r["k"], bytes(r["pid"]))
            for r in read_pruned_box_with_bound(
                spark, t, [("pid", target, target)]
            )[0].select("k", "pid").collect()
        )
        expect_eq = sorted(
            (k, p) for k, (_, p, _, _) in model.items() if p == target
        )
        assert got_eq == expect_eq, (
            f"binary pruned-read divergence after step {step} ({op})"
            f" on pid={target.hex()[:8]}...; history={history}"
        )
        # conjunctive (policy x slot) box read
        lo = rng.randrange(0, 200)
        hi = lo + rng.randrange(20, 120)
        got_box = sorted(
            (r["k"],)
            for r in read_pruned_box_with_bound(
                spark, t, [("pid", target, target), ("slot", lo, hi)]
            )[0].select("k").collect()
        )
        expect_box = sorted(
            (k,)
            for k, (_, p, s, _) in model.items()
            if p == target and lo <= s <= hi
        )
        assert got_box == expect_box, (
            f"box pruned-read divergence after step {step} ({op});"
            f" history={history}"
        )


# -- soak mode ----------------------------------------------------------------
# The CI walks run ONE pinned seed each (deterministic, fast).  Set
# SOAK_SEEDS=N to additionally sweep N fresh seeds per walk — the
# exploration mode that hunts for interleavings the pinned seeds happen to
# miss (its first sweep caught the emptied-table end-state hole at seed
# 20260828 = offset 0, i 13).  SOAK_OFFSET=K starts the sweep K seeds in,
# so successive soak sessions explore NEW seeds instead of re-proving old
# ones.  When a soak seed fails, pin it as a named regression test.

_SOAK = int(os.environ.get("SOAK_SEEDS", "0"))
_SOAK_OFF = int(os.environ.get("SOAK_OFFSET", "0"))


@pytest.mark.skipif(not _SOAK, reason="soak: set SOAK_SEEDS=N to enable")
@pytest.mark.parametrize("i", range(_SOAK))
def test_soak_generation_walk(spark, tmp_path, i):
    _run_generation_walk(
        spark, str(tmp_path), SEED + 1 + _SOAK_OFF + i, N_STEPS
    )


@pytest.mark.skipif(not _SOAK, reason="soak: set SOAK_SEEDS=N to enable")
@pytest.mark.parametrize("i", range(_SOAK))
def test_soak_binary_walk(spark, tmp_path, i):
    _run_binary_walk(spark, str(tmp_path), 20260815 + 1 + _SOAK_OFF + i, 14)
