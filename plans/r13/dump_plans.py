#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to <outdir>/<name>_<tag>.txt.

Usage: python dump_plans.py <repo_root> <tag> <outdir> <q1,q2,...>

A name is a registered query (``all_queries()``), ``ingest.<table>`` or
``lake.<table>``:

- ``ingest.<table>``: the plan of that lake table's append in one flush
  of the fixture block stream (``lake/fixtures.py::fixture_blocks``),
  captured at the writer as ``ingest_blocks`` runs.
- ``lake.<table>``: the plans of the table's two read paths over a
  maintained lake — ``generations.read_table`` and
  ``manifest.read_pruned_box_with_bound`` with the token report's
  policy/asset box (the empty box on a table without those columns).
  The lake is the fixture stream ingested at ``batch_size=3`` and then
  compacted, so ``asset`` holds a pointered and an unpointered
  slot_group; its root is written as ``<lake>`` and part-file UUIDs as
  ``<uuid>``.

Run it once against each of two checkouts with the same tag and two
output dirs, then ``diff -r`` the dirs: a plan-neutral change leaves every
file identical.  The session uses the bench posture (AQE off,
shuffle_partitions=8) so Exchange counts are directly visible rather than
hidden inside AdaptiveSparkPlan re-planning.

The dumps are normalised so that two runs of the same plans compare equal
whatever else the session ran first (see ``normalise``).  A plan with an
``Expand`` (distinct aggregates) is dumped again in a fresh process of its
own: its grouping order follows expression-id hashing, which no text
rewrite undoes.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import subprocess
import sys

# Session-history counters that leak into explain text: expression ids,
# exchange ids, byte-array identity hashes, the numeric suffix PySpark
# gives each Python lambda's variable (``x_12`` for ``lambda x: ...``; a
# SQL-text lambda keeps its bare name), the suffix of the aliases the
# optimizer gives common subexpressions (``_common_expr_3``), which counts
# the expressions earlier queries created, and RDD ids
# (``MapPartitionsRDD[2888]`` under an ``ExistingRDD`` scan), which count
# the RDDs earlier jobs created.
_COUNTERS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[B@[0-9a-f]+"), "[B@…"),
    (re.compile(r"\blambda (\w+)_\d+\b"), r"lambda \1"),
    (re.compile(r"\b_common_expr_\d+\b"), "_common_expr_N"),
)


def _split_top(text: str) -> list[str]:
    """Split ``a, [b, c], d`` at the commas outside any brackets."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch in "[(":
            depth += 1
        elif ch in "])":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(text[start:i].strip())
            start = i + 1
    parts.append(text[start:].strip())
    return parts


def _sorted_expand(args: str) -> str:
    """An Expand's ``Arguments: [[p1], [p2], ...], [output]`` with the
    projection lists sorted."""
    projections, output = _split_top(args)
    body = _split_top(projections[1:-1])
    return f"[{', '.join(sorted(body))}], {output}"


def normalise(plan: str) -> str:
    for pattern, repl in _COUNTERS:
        plan = pattern.sub(repl, plan)
    out, in_expand = [], False
    for line in plan.splitlines():
        if re.match(r"\(\d+\) ", line):
            in_expand = re.match(r"\(\d+\) Expand\b", line) is not None
        elif in_expand and line.startswith("Arguments: "):
            line = "Arguments: " + _sorted_expand(line[len("Arguments: "):])
        out.append(line)
    return "\n".join(out) + "\n"


def _ingest_plans(spark) -> dict[str, str]:
    """``{"ingest.<table>": formatted plan}`` of every append one flush
    of the fixture stream makes."""
    import tempfile

    from pyspark.sql.readwriter import DataFrameWriter

    from cardano_analytics_duckdb_spark.lake.fixtures import fixture_blocks
    from cardano_analytics_duckdb_spark.streaming.ingest import ingest_blocks

    plans = {}
    original = DataFrameWriter.parquet
    jvm = spark.sparkContext._jvm

    def captured(self, path, *args, **kwargs):
        plans[f"ingest.{os.path.basename(path)}"] = (
            jvm.PythonSQLUtils.explainString(
                self._df._jdf.queryExecution(), "formatted"
            )
        )
        return original(self, path, *args, **kwargs)

    blocks = fixture_blocks()
    DataFrameWriter.parquet = captured
    try:
        with tempfile.TemporaryDirectory() as dest:
            ingest_blocks(spark, blocks, dest, batch_size=len(blocks))
    finally:
        DataFrameWriter.parquet = original
    return plans


_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _lake_plans(spark, tables: list[str]) -> dict[str, str]:
    """``{"lake.<table>": both read plans}`` over a compacted fixture
    lake (see the module docstring)."""
    import tempfile

    from cardano_analytics_duckdb_spark.lake.fixtures import (
        TOKEN_NAME,
        TOKEN_POLICY,
        fixture_blocks,
    )
    from cardano_analytics_duckdb_spark.lake.generations import read_table
    from cardano_analytics_duckdb_spark.lake.manifest import (
        build_manifest,
        read_pruned_box_with_bound,
    )
    from cardano_analytics_duckdb_spark.streaming.ingest import (
        compact_lake,
        ingest_blocks,
    )

    def formatted(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    plans = {}
    with tempfile.TemporaryDirectory() as root:
        ingest_blocks(spark, fixture_blocks(), root, batch_size=3)
        compact_lake(spark, root)
        for t in tables:
            table_dir = os.path.join(root, t)
            read = read_table(spark, table_dir)
            box = []
            if {"policy_id", "asset_name"} <= set(read.columns):
                box = [
                    ("policy_id", TOKEN_POLICY, TOKEN_POLICY),
                    ("asset_name", TOKEN_NAME, TOKEN_NAME),
                ]
            build_manifest(spark, table_dir)
            pruned, bound = read_pruned_box_with_bound(spark, table_dir, box)
            text = (
                "## generations.read_table\n" + formatted(read)
                + f"## manifest.read_pruned_box_with_bound (row bound {bound})\n"
                + formatted(pruned)
            )
            plans[f"lake.{t}"] = _UUID.sub("<uuid>", text.replace(root, "<lake>"))
    return plans


def main() -> None:
    repo, tag, outdir, names_csv = sys.argv[1:5]
    sys.path.insert(0, repo)
    names = names_csv.split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from cardano_analytics_duckdb_spark.operators import all_queries
    from cardano_analytics_duckdb_spark.plans import get_session

    spark = get_session(
        app_name=f"plan-dump-{tag}",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    queries = all_queries()
    ingest = (
        _ingest_plans(spark)
        if any(n.startswith("ingest.") for n in names) else {}
    )
    ingest.update(_lake_plans(
        spark, [n[len("lake."):] for n in names if n.startswith("lake.")]
    ))
    os.makedirs(outdir, exist_ok=True)
    expands = []
    for name in names:
        buf = io.StringIO()
        if name in ingest:
            buf.write(ingest[name])
        else:
            with contextlib.redirect_stdout(buf):
                queries[name](spark, sf_dir).explain("formatted")
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(
                f"# query: {name}  tag: {tag}  sf_dir: {sf_dir}\n"
                f"# session: bench posture (AQE off, shuffle_partitions=8)\n"
            )
            fh.write(normalise(buf.getvalue()))
        print(f"wrote {path}")
        if " Expand " in buf.getvalue():
            expands.append(name)
    spark.stop()
    if len(names) > 1:
        for name in expands:
            subprocess.run([sys.executable, __file__, repo, tag, outdir, name],
                           check=True)


if __name__ == "__main__":
    main()
