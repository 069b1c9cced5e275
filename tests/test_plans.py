"""Physical-plan regression tests: the engine's scale guarantees, asserted
on `.explain` output so a refactor can't silently reintroduce a shuffle.

* fused reverse_geocode: ZERO exchanges (scan -> mapInArrow)
* forward_geocode: no fact-side exchange — every Exchange in the plan sits
  under a BroadcastExchange/dimension aggregation, never on the fact side
* parquet scans: filters pushed down, columns pruned
"""

import ast
import re
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from geocode_spark.operators.forward_geocode import forward_geocode, prepare_cpo
from geocode_spark.operators.reverse_geocode import reverse_geocode
from geocode_spark.regions import load_prepared


def plan_of(df, mode="formatted"):
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def test_fused_reverse_geocode_has_no_shuffle(spark, fixture_dir):
    prep = load_prepared("llsoa", fixture_dir / "prepared")
    pts = spark.range(1000).select(
        F.col("id").alias("row_id"),
        (F.col("id") * 0.001 + 51.0).alias("latitude"),
        (F.col("id") * 0.001 - 1.0).alias("longitude"))
    plan = plan_of(reverse_geocode(pts, prep))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_forward_geocode_fact_side_never_shuffles(spark, fixture_dir):
    cpo = prepare_cpo(spark.read.parquet(str(fixture_dir / "cpo_raw.parquet")))
    pcs = spark.range(1000).select(
        F.concat(F.lit("AB1 "), (F.col("id") % 10).cast("string")).alias("postcode"))
    plan = plan_of(forward_geocode(pcs, cpo), mode="simple")
    # the fact lineage is Range -> Project -> BroadcastHashJoin(s); any
    # Exchange must be strictly inside a broadcast (dimension) subtree
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if re.search(r"\bExchange\b", line) and "BroadcastExchange" not in line:
            # dimension-side shuffles hang under a BroadcastExchange at a
            # shallower indent above them
            indent = len(line) - len(line.lstrip(" :+-*"))
            covered = any(
                "BroadcastExchange" in up
                and (len(up) - len(up.lstrip(" :+-*"))) < indent
                for up in lines[:i])
            assert covered, f"fact-side shuffle found:\n{line}\n\n{plan}"
    assert "BroadcastHashJoin" in plan


def test_scan_pushdown_and_pruning(spark, fixture_dir):
    df = (spark.read.parquet(str(fixture_dir / "cpo_geo.parquet"))
          .filter(F.col("Positional_quality_indicator") < 50)
          .select("Postcode", "latitude"))
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(Positional_quality_indicator)" in plan \
        or "LessThan(Positional_quality_indicator,50)" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"Postcode", "latitude", "Positional_quality_indicator"}


def test_whole_stage_codegen_covers_text_ops(spark, fixture_dir):
    from geocode_spark.operators.text import text_profile

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(text_profile(docs), mode="simple")
    assert "*(" in plan  # whole-stage codegen marker in simple mode
    # no python evaluation anywhere in the text-profile plan
    assert "Python" not in plan and "InPandas" not in plan


def test_multimodal_plans_are_arrow_not_row_python(spark, fixture_dir):
    """The COVERAGE.md claim 'no row-at-a-time Python' extended to the
    multimodal module: each operator is one Arrow pass-through map
    (MapInArrow), never a pandas conversion (MapInPandas) or a
    row-at-a-time BatchEvalPython."""
    from geocode_spark.operators.multimodal import (extract_features,
                                                    frame_sample,
                                                    resize_media,
                                                    with_media_meta)

    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    for df in (frame_sample(pages, binary_col="html", n_frames=3),
               with_media_meta(pages, binary_col="html"),
               extract_features(pages, binary_col="html"),
               resize_media(pages, binary_col="html")):
        plan = plan_of(df, mode="simple")
        assert "MapInArrow" in plan, plan
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # source-level guard: no pandas row iteration anywhere in the module
    import inspect

    import geocode_spark.operators.multimodal as mm

    src = inspect.getsource(mm)
    assert "iterrows" not in src and "itertuples" not in src


def _users_of(attr):
    """(module, top-level definition) pairs in ``geocode_spark/`` whose code
    reads the attribute ``attr``."""
    import geocode_spark

    found = []
    for p in sorted(Path(geocode_spark.__file__).parent.rglob("*.py")):
        for node in ast.parse(p.read_text()).body:
            if any(isinstance(n, ast.Attribute) and n.attr == attr
                   for n in ast.walk(node)):
                found.append((p.stem, getattr(node, "name", None)))
    return found


def test_worker_maps_go_through_arrow_map():
    """Every worker-side map is ``functions.udfs.arrow_map``, except the
    MinHash bucket walk (it carries the open bucket across batches) and
    the connected-components contraction (it needs the whole partition),
    both direct ``mapInArrow``s; no pandas map is left."""
    assert _users_of("mapInPandas") == []
    assert sorted(_users_of("mapInArrow")) == [
        ("dedup", "_local_contract"), ("dedup", "minhash_dedup_pairs"),
        ("udfs", "arrow_map")]
