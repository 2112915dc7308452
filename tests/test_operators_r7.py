"""Round-7 (optimization round) pins: rewrites must compute EXACTLY
what the r6 queries computed. Each test here anchors an optimized
operator to an independent formulation of the same result."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from readability_py_spark.session import build_session

    s = build_session(
        app_name="rps-tests-r7", master="local[4]", shuffle_partitions="4"
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().lower()


def test_price_quartiles_bitwise_matches_percentile_aggregate(spark):
    """The window-sort exact percentile must reproduce Spark's own
    percentile() aggregate BIT-FOR-BIT (repr equality on the rounded
    doubles), at more than one SF — the interpolation arithmetic
    replicates Percentile.getPercentile operation for operation."""
    from pyspark.sql import functions as F

    from readability_py_spark.operators.relational import q_price_quartiles
    from readability_py_spark.session import load_table

    for sf_dir in (SF_SMOKE, SF_MID):
        mine = {
            r["l_returnflag"]: (r["p25"], r["p50"], r["p75"], r["p90"])
            for r in q_price_quartiles(spark, sf_dir).collect()
        }
        ref = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(
                *[
                    F.round(
                        F.expr(f"percentile(l_extendedprice, {p})"), 4
                    ).alias(name)
                    for name, p in [
                        ("p25", 0.25),
                        ("p50", 0.5),
                        ("p75", 0.75),
                        ("p90", 0.9),
                    ]
                ]
            )
        )
        refd = {
            r["l_returnflag"]: (r["p25"], r["p50"], r["p75"], r["p90"])
            for r in ref.collect()
        }
        assert set(mine) == set(refd)
        for k in refd:
            assert [repr(a) for a in mine[k]] == [repr(b) for b in refd[k]], (
                sf_dir,
                k,
                mine[k],
                refd[k],
            )


def test_price_quartiles_plan_has_no_percentile_buffer(spark):
    """The rewrite's plan shape: one hash exchange on the group key, a
    per-group sort + window, no ObjectHashAggregate percentile buffer."""
    from readability_py_spark.operators.relational import q_price_quartiles

    df = q_price_quartiles(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    plan = _final_plan(df)
    assert "percentile" not in plan, plan
    assert "objecthashaggregate" not in plan, plan
    assert "hashpartitioning(l_returnflag" in plan, plan


def test_decontaminate_matches_in_row_intersect_form(spark):
    """The exploded broadcast-join overlap count equals the r6 in-row
    size(array_intersect(grams, evg)) formulation row for row."""
    from pyspark.sql import functions as F

    from readability_py_spark.operators.textstats import (
        DECON_N,
        DECON_SLICE,
        _gram_array,
        q_decontaminate,
    )
    from readability_py_spark.session import load_table

    docs = load_table(spark, SF_MID, "documents")
    grams = F.array_distinct(_gram_array(F.col("text"), DECON_N))
    ev = (
        docs.filter(F.col("doc_id") % DECON_SLICE == 0)
        .select(F.explode(_gram_array(F.col("text"), DECON_N)).alias("g"))
        .distinct()
    )
    evarr = ev.agg(F.array_sort(F.collect_set("g")).alias("evg")).select(
        F.lit(1).alias("k"), "evg"
    )
    corpus = docs.select("doc_id", grams.alias("grams"), F.lit(1).alias("k"))
    overlap = F.size(F.array_intersect(F.col("grams"), F.col("evg")))
    ref = {
        r["doc_id"]: (r["n_grams"], r["overlap_cnt"], r["contaminated"])
        for r in corpus.join(F.broadcast(evarr), "k")
        .select(
            "doc_id",
            F.size("grams").alias("n_grams"),
            overlap.alias("overlap_cnt"),
            (overlap > 0).alias("contaminated"),
        )
        .collect()
    }
    mine = {
        r["doc_id"]: (r["n_grams"], r["overlap_cnt"], r["contaminated"])
        for r in q_decontaminate(spark, SF_MID).collect()
    }
    assert mine == ref


def _lambda_bodies_with_row_refs(expr) -> list[str]:
    """Every LambdaFunction body in an unresolved Catalyst tree that
    contains an UnresolvedAttribute (a row column), as SQL strings.
    Lambda variables are UnresolvedNamedLambdaVariable, so a body that
    refers only to its own variables and literals yields nothing."""

    def children(e):
        seq = e.children()
        return [seq.apply(i) for i in range(seq.size())]

    def has_attr(e) -> bool:
        if e.getClass().getSimpleName() == "UnresolvedAttribute":
            return True
        return any(has_attr(c) for c in children(e))

    found = []
    stack = [expr]
    while stack:
        e = stack.pop()
        if e.getClass().getSimpleName() == "LambdaFunction" and has_attr(
            e.function()
        ):
            found.append(e.sql())
        stack.extend(children(e))
    return found


def test_token_builder_lambdas_never_reference_row_expressions(spark):
    """A lambda body re-evaluates every non-lambda subexpression once
    per element, so a gram lambda that indexes the row's split(text)
    re-splits the document once per gram — O(words²) per row. The
    shared token builders must build arrays from shifted slices
    outside the lambda; this walks each one's Catalyst tree."""
    from pyspark.sql import functions as F

    from readability_py_spark.operators.dedup import shingles_of
    from readability_py_spark.operators.textstats import (
        GOPHER_STOPWORDS,
        gopher_flag_cols,
        gram_array,
        repetition_cols,
    )

    text = F.col("text")
    words = F.split(F.trim(F.lower(text)), r"\s+")
    cols = {f"gram_array n={n}": gram_array(words, n) for n in (2, 3, 5, 13)}
    cols["shingles_of"] = shingles_of(text)
    cols["top2gram_frac"], cols["dup5gram_frac"] = repetition_cols(text)
    cols["gopher pass"] = gopher_flag_cols(text, GOPHER_STOPWORDS)["pass"]
    for name, col in cols.items():
        # Spark 4 columns carry a ColumnNode; the session converts it
        # to the (unresolved) Catalyst expression
        bad = _lambda_bodies_with_row_refs(spark._jsparkSession.expression(col._jc))
        assert not bad, (name, bad)
