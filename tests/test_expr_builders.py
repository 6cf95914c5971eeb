"""The shared expression builders are SQL text, built per call.

Two properties pinned here:

* cost — the MinHash signature, LSH band-key and curation stage-chain
  plans are built from ``selectExpr``/``F.expr`` text, so building them
  costs a few hundred py4j sends in a fresh process, not the thousands
  the same trees cost one ``Column`` node at a time;
* types — Spark SQL reads a bare ``1.0`` as DECIMAL, so every float
  constant in the text is a ``D`` literal; the scores, folds and lake
  summaries stay DOUBLE/BIGINT.
"""

from __future__ import annotations

import hashlib

from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType

from f1_data_engineering_spark.functions.text import quality_score
from f1_data_engineering_spark.operators import curation as CU
from f1_data_engineering_spark.operators.dedup import (
    band_keys_df,
    estimate_pairs,
    signatures_df,
)
from f1_data_engineering_spark.operators.graphops import _sorted_fold_sum
from f1_data_engineering_spark.operators.lakedml import _CK_COLS, _state_summary


def _count_sends(monkeypatch, build):
    """py4j commands sent while ``build()`` runs (GC detaches, ``m\\nd\\n``,
    excluded)."""
    sends = []
    orig = GatewayClient.send_command

    def counting(client, command, *a, **kw):
        if not command.startswith("m\nd\n"):
            sends.append(command)
        return orig(client, command, *a, **kw)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    try:
        build()
    finally:
        monkeypatch.undo()
    return len(sends)


def test_signature_band_and_stage_chain_py4j_budget(spark, sf_dir, monkeypatch):
    """Signatures, band keys, the estimate join and the whole curation
    stage chain (PII scrub → scores → exact → near-dup → decontam →
    rollup), built without running them.  Built one Column node at a
    time the same plans cost ~6,800 sends in a fresh process."""
    docs = spark.createDataFrame(
        [(1, "a", "the quick brown fox"), (2, "b", "the quick brown fox jumps")],
        "doc_id long, source string, text string",
    )

    def build():
        sig = signatures_df(docs.select("doc_id", "text"))
        bands = band_keys_df(sig)
        cand = bands.selectExpr("doc_id AS d1", "doc_id AS d2")
        estimate_pairs(cand, sig)
        CU.curation_pipeline(spark, sf_dir)

    try:
        n = _count_sends(monkeypatch, build)
    finally:
        spark.catalog.clearCache()
    assert n <= 1000, n


def test_scores_folds_and_summaries_are_double_or_bigint(spark):
    docs = spark.createDataFrame([(1, "the cat and the dog")], "doc_id long, text string")
    assert docs.select(quality_score("text").alias("q")).schema["q"].dataType == DoubleType()

    sig = spark.createDataFrame([(1, [1, 2]), (2, [1, 3])], "doc_id long, sig array<bigint>")
    pairs = estimate_pairs(spark.createDataFrame([(1, 2)], "d1 long, d2 long"), sig)
    assert pairs.schema["est_jaccard"].dataType == DoubleType()
    assert pairs.first()["est_jaccard"] == round(1 / 16, 6)

    vals = spark.createDataFrame(
        [("g", 2, 5), ("g", 1, 7)], "g string, o int, v bigint"
    ).groupBy("g").agg(_sorted_fold_sum("o", "v").alias("s"))
    assert vals.schema["s"].dataType == DoubleType()
    assert vals.first()["s"] == 12.0


def test_state_summary_types_and_row_hash(spark):
    """n_rows BIGINT, sum_price DOUBLE, and the checksum is the decimal
    sum of md5('dml#' || 0x1F-joined row image, NULL → '\\x00null')."""
    rows = [(7, None, "O", "1-URGENT", 10.25), (8, 3, "F", "2-HIGH", 4.5)]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderpriority string, o_totalprice double",
    )
    out = _state_summary(orders, F.lit("all"), "label")
    types = {f.name: f.dataType for f in out.schema.fields}
    assert types["n_rows"] == LongType()
    assert types["sum_price"] == DoubleType()
    assert types["checksum"] == StringType()

    def row_hash(r):
        image = "\x1f".join("\x00null" if v is None else str(v) for v in r[: len(_CK_COLS)])
        return int(hashlib.md5(("dml#" + image).encode()).hexdigest()[:15], 16)

    got = out.first()
    assert got["n_rows"] == 2
    assert got["sum_price"] == 14.75
    assert got["checksum"] == str(sum(row_hash(r) for r in rows))
