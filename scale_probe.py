#!/usr/bin/env python
"""Generic A/B probe: time one registered query, and optionally one
candidate shape of it, against its DuckDB oracle on a scaled lake.

Usage (run solo — never concurrently with pytest or bench.py):

    python scale_probe.py SCRATCH --query NAME --scale N \
        [--variant module:function]

- ``--scale N`` replicates the ``SPARK_GRAFT_SF_DIR`` lake (default:
  the sf0.1 test lake, as in bench.py) N times into
  ``SCRATCH/lake_<N>x``, with foreign-key-consistent key offsets so join
  and group cardinalities scale too.  Only the tables the query reads
  are built (plus the tiny nation/region dims); a table already present
  is reused, so several A/Bs at one scale share one build.  Delete
  SCRATCH when done.
- ``--variant module:function`` names a candidate shape with the
  registered query's signature ``(spark, sf_dir) -> DataFrame``.
  ``module`` is a dotted import path or a ``.py`` file, so a candidate
  lives in a scratch file, not behind a flag in the package.  Its rows
  must equal the shipped query's rows before anything is timed.
- Timing is :func:`steady_state`: one fresh session, an untimed warmup
  that materializes every Spark frame and fetches the DuckDB oracle (so
  both engines start equally cached), 7 interleaved rounds, and the host
  loadavg stamped on the record.
- The record is merged into ``SCALE_PROBE.json`` in the current
  directory (run from the repo root to add it to the committed ledger)
  under ``<query>_ab_<N>x`` with a variant and ``<query>_<N>x`` without.
  Source comments cite such keys; ``tests/test_probe_citations.py``
  checks that every cited key exists.

Queries over the Cardano fixture lake (the ``cardano_*`` family) do not
read ``sf_dir``, so ``--scale`` cannot scale them; the probe refuses them.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from cardano_analytics_duckdb_spark.plans import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PROBE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# Dims that stay fixed at every scale (real dims don't grow with volume).
_FIXED = ("nation", "region")
# Key columns shifted per replica, by the (table, column) whose span they
# share: every foreign key moves with its dimension's primary key.
_SHIFT = {
    "c_custkey": ("customer", "c_custkey"),
    "o_custkey": ("customer", "c_custkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "p_partkey": ("part", "p_partkey"),
    "l_partkey": ("part", "p_partkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}
# Output files per table at 10x; scaled with the replica count so the
# per-file size stays constant.
_FILES = {
    "customer": 16, "supplier": 8, "part": 16, "orders": 64,
    "lineitem": 64, "events": 32, "documents": 32, "embeddings": 32,
}


def build_scaled_lake(spark, lake_dir: str, replicas: int, tables) -> None:
    """Replicate ``tables`` of the source lake ``replicas`` x into
    ``lake_dir/{t}.parquet`` directories (the layout load_table expects).
    Document text gets a per-replica suffix so the duplicate rate stays
    realistic instead of every doc gaining replicas-1 exact copies.  A
    table whose directory already holds a complete write is kept."""
    from cardano_analytics_duckdb_spark.lake.tables import load_table

    def read(t):
        # load_table, not a raw read: normalizes the events ts encoding
        return load_table(spark, SF_DIR, t)

    spans: dict[tuple[str, str], int] = {}

    def span(t, col):
        if (t, col) not in spans:
            spans[(t, col)] = read(t).agg(F.max(col)).first()[0] + 1
        return spans[(t, col)]

    rep = spark.range(replicas).select(F.col("id").alias("rep"))
    file_scale = max(1, replicas // 10)
    for t in tables:
        out = os.path.join(lake_dir, f"{t}.parquet")
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            continue
        df = read(t)
        if t in _FIXED:
            df.write.mode("overwrite").parquet(out)
            continue
        df = df.crossJoin(F.broadcast(rep))
        for col in df.columns:
            if col in _SHIFT:
                df = df.withColumn(
                    col, F.col(col) + F.col("rep") * span(*_SHIFT[col])
                )
        if t == "documents":
            suffix = F.concat(F.lit(" r"), F.col("rep").cast("string"))
            df = df.withColumn(
                "n_chars", F.col("n_chars") + F.length(suffix)
            ).withColumn("text", F.concat(F.col("text"), suffix))
        (
            df.drop("rep")
            .repartition(_FILES[t] * file_scale)
            .write.mode("overwrite")
            .parquet(out)
        )


def tables_read(df, sf_dir: str) -> list[str]:
    """The source-lake tables a frame scans (from its input files)."""
    root = os.path.abspath(sf_dir)
    hit = set()
    for path in df.inputFiles():
        rel = path.split(root, 1)[-1].lstrip("/")
        table, ext = os.path.splitext(rel.split("/", 1)[0])
        if ext == ".parquet" and table in PROBE_TABLES:
            hit.add(table)
    return sorted(hit)


def _duck_con(lake_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in PROBE_TABLES:
        p = os.path.join(lake_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{p}/*.parquet')"
            )
    return con


def steady_state(spark, lake_dir, frames, duck_sql, n_runs=7) -> dict:
    """The focused steady-state protocol every A/B uses: a fresh probe
    session, n interleaved rounds, and EQUALIZED cache state — the
    untimed warmup pass materializes every Spark variant AND fetches
    every DuckDB oracle before any timing, so both engines enter round 1
    with the same lake fully page-cached.  Returns the full per-run
    record, not just medians, so straddles are auditable."""
    con = _duck_con(lake_dir)
    for fn in frames.values():
        fn().write.format("noop").mode("overwrite").save()
    for sql in duck_sql.values():
        con.execute(sql).fetchall()
    runs: dict[str, list[float]] = {n: [] for n in frames}
    druns: dict[str, list[float]] = {n: [] for n in duck_sql}
    for _ in range(n_runs):
        for name, fn in frames.items():
            df = fn()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            runs[name].append(round(time.perf_counter() - t0, 3))
        for name, sql in duck_sql.items():
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            druns[name].append(round(time.perf_counter() - t0, 3))
    con.close()

    def med(xs):
        return sorted(xs)[len(xs) // 2]

    return {
        "protocol": "focused_steady_state",
        "n_runs": n_runs,
        # a loaded host once bent one ratio 2.87x -> 1.56x; stamping
        # load makes quiet-vs-loaded readings distinguishable in the
        # artifact instead of in a prose note
        "loadavg_at_end": [round(x, 2) for x in os.getloadavg()],
        "spark_runs": runs,
        "duckdb_runs": druns,
        "spark_median": {n: med(v) for n, v in runs.items()},
        "duckdb_median": {n: med(v) for n, v in druns.items()},
    }


def merge_probe(path: str, key: str, payload: dict) -> None:
    """Write ``payload`` under ``key``; every other entry is kept."""
    summary = {}
    if os.path.exists(path):
        with open(path) as f:
            summary = json.load(f)
    summary[key] = payload
    with open(path, "w") as f:
        json.dump(summary, f, indent=2)


def load_variant(spec: str):
    """``module:function`` -> the function; ``module`` is a dotted
    import path or a path to a ``.py`` file."""
    module, _, func = spec.rpartition(":")
    if not module or not func:
        raise SystemExit(f"--variant wants module:function, got {spec!r}")
    if module.endswith(".py"):
        name = os.path.splitext(os.path.basename(module))[0]
        mspec = importlib.util.spec_from_file_location(name, module)
        mod = importlib.util.module_from_spec(mspec)
        mspec.loader.exec_module(mod)
    else:
        mod = importlib.import_module(module)
    return getattr(mod, func)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("scratch", help="directory for the scaled lake")
    ap.add_argument("--query", required=True, help="registered query name")
    ap.add_argument("--scale", type=int, required=True, help="replicas")
    ap.add_argument("--variant", help="candidate shape, module:function")
    args = ap.parse_args()

    from cardano_analytics_duckdb_spark.operators import (
        all_oracles,
        all_queries,
    )

    query = all_queries().get(args.query)
    if query is None:
        raise SystemExit(f"unknown query {args.query!r}")
    candidate = load_variant(args.variant) if args.variant else None
    key = (
        f"{args.query}_ab_{args.scale}x" if candidate
        else f"{args.query}_{args.scale}x"
    )
    # Production posture: AQE on, oversized shuffle partition count that
    # AQE coalesces down (plans/session.py docstring).
    spark = get_session(app_name="scale-probe", shuffle_partitions=200)
    try:
        tables = tables_read(query(spark, SF_DIR), SF_DIR)
        if not tables:
            raise SystemExit(
                f"{args.query} reads no table of {SF_DIR}; "
                "--scale cannot scale it"
            )
        lake_dir = os.path.join(args.scratch, f"lake_{args.scale}x")
        build_scaled_lake(
            spark, lake_dir, args.scale, sorted(set(tables) | set(_FIXED))
        )
        frames = {"shipped": lambda: query(spark, lake_dir)}
        if candidate:
            frames[args.variant] = lambda: candidate(spark, lake_dir)
            a, b = frames["shipped"](), frames[args.variant]()
            diff = a.exceptAll(b).count() + b.exceptAll(a).count()
            if diff:
                raise SystemExit(f"{args.variant} differs on {diff} rows")
        payload = steady_state(
            spark,
            lake_dir,
            frames,
            duck_sql={args.query: all_oracles()[args.query]},
        )
    finally:
        spark.stop()
    payload.update(
        query=args.query,
        variant=args.variant,
        replicas=args.scale,
        source_sf_dir=SF_DIR,
        tables=tables,
    )
    merge_probe("SCALE_PROBE.json", key, payload)
    print(
        json.dumps(
            {
                "key": key,
                "spark_median": payload["spark_median"],
                "duckdb_median": payload["duckdb_median"],
                "loadavg_at_end": payload["loadavg_at_end"],
            }
        )
    )


if __name__ == "__main__":
    main()
