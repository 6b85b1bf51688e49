"""The micro-batch gate template (streaming/gate.py) on every
commit-last store — budget, drift, leak, align and id allocation —
with a few in-memory rows each: replay gives the same committed rows,
a data slice without its marker is invisible, a store whose committed
labels hold no rows reads as an empty frame with the pinned columns,
and the on-disk layout is the documented one. Also: the marker
readers agree on a store with no marker yet, and no streaming module
hand-rolls the wiring or the label-slice overwrite again."""

from __future__ import annotations

import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from firefox_public_data_report_etl_spark.streaming import (
    aligngate,
    budgetgate,
    driftgate,
    idalloc,
    leakgate,
)

PACKAGE = (
    Path(__file__).resolve().parents[1] / "firefox_public_data_report_etl_spark"
)

LEAK = "the quick brown fox jumps over the lazy dog tonight"
BUDGETS = {"en": 100, "de": 50}


def _budget(spark, tmp_path):
    schema = "doc_id long, lang string, tokens long"

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    return dict(
        run=lambda b, store, i: budgetgate.budget_gate_batch(
            spark, b, store, BUDGETS, i
        ),
        read=budgetgate.read_accepted,
        batches=[
            batch(
                [(1, "en", 30), (2, "en", 30), (3, "de", 20), (4, "fr", 9)]
            ),
            batch([(5, "en", 30), (6, "en", 60), (7, "de", 40)]),
        ],
        # every row in a stratum without a budget
        rejected=batch([(8, "fr", 10), (9, "xx", 5)]),
        columns={"doc_id": "bigint", "lang": "string", "tokens": "bigint"},
        dirs=("accepted", "meta"),
    )


def _drift(spark, tmp_path):
    def batch(first):
        # one doc in each of three length bins
        return spark.createDataFrame(
            [(first + i, "y" * n) for i, n in enumerate((50, 150, 250))],
            "doc_id long, text string",
        )

    ref = {0: 1, 1: 1, 2: 1}
    return dict(
        run=lambda b, store, i: driftgate.drift_gate_batch(
            spark, b, store, ref, i
        ),
        read=driftgate.read_accepted,
        batches=[batch(1), batch(10)],
        # every doc in the first bin: TVD 2/3 trips the breaker
        rejected=spark.createDataFrame(
            [(20, "x"), (21, "xx")], "doc_id long, text string"
        ),
        columns={"doc_id": "bigint", "text": "string"},
        dirs=("accepted", "meta"),
    )


def _leak(spark, tmp_path):
    from firefox_public_data_report_etl_spark.operators.winnow_index import (
        build_winnow_index,
    )

    idx = str(tmp_path / "evalidx")
    build_winnow_index(
        spark.createDataFrame(
            [(1, "held out benchmark passage " + LEAK + " end")],
            "doc_id long, text string",
        ),
        idx,
    )

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    return dict(
        run=lambda b, store, i: leakgate.leak_gate_batch(
            spark, b, idx, store, i
        ),
        read=leakgate.read_accepted,
        batches=[
            batch(
                [(100, "fresh training content"), (101, "copies " + LEAK)]
            ),
            batch([(102, "more clean rows here")]),
        ],
        rejected=batch([(200, "verbatim " + LEAK), (201, LEAK + " too")]),
        columns={"doc_id": "bigint", "text": "string"},
        dirs=("accepted", "decisions"),
    )


def _align(spark, tmp_path):
    from firefox_public_data_report_etl_spark.operators.multimodal import (
        CAP_MIS_MOD,
        CAP_MIS_RES,
        attach_captions,
        attach_neardup_bmp_payload,
    )

    mismatched = [CAP_MIS_RES + CAP_MIS_MOD * k for k in range(3)]
    docs = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3] + mismatched], "doc_id long"
    )
    pairs = attach_neardup_bmp_payload(docs).join(
        attach_captions(docs), "media_id"
    )
    rows = {r.media_id: r for r in pairs.collect()}

    def batch(ids):
        return spark.createDataFrame([rows[i] for i in ids], pairs.schema)

    return dict(
        run=lambda b, store, i: aligngate.align_gate_batch(
            spark, b, store, i
        ),
        read=aligngate.read_accepted,
        batches=[batch([0, 1, mismatched[0]]), batch([2, 3])],
        rejected=batch(mismatched),
        columns={
            "media_id": "bigint",
            "payload": "binary",
            "media_type": "string",
            "n_bytes": "bigint",
            "caption": "string",
        },
        dirs=("accepted", "verdicts"),
    )


def _idalloc(spark, tmp_path):
    def batch(keys):
        return spark.createDataFrame([(k,) for k in keys], "doc_id long")

    return dict(
        run=lambda b, store, i: idalloc.alloc_ids_batch(spark, b, store, i),
        read=idalloc.read_assigned_ids,
        batches=[batch([5, 1]), batch([9, 3])],
        rejected=batch([]),  # an empty first batch
        columns={"doc_id": "bigint", "sample_id": "bigint"},
        dirs=("ids", "meta"),
    )


GATES = {
    "budget": _budget,
    "drift": _drift,
    "leak": _leak,
    "align": _align,
    "idalloc": _idalloc,
}


def _visible(names):
    return sorted(n for n in names if not n.startswith((".", "_")))


@pytest.mark.parametrize("gate", sorted(GATES))
def test_commit_last_store_protocol(spark, tmp_path, gate):
    g = GATES[gate](spark, tmp_path)
    data_dir, marker_dir = g["dirs"]
    store = str(tmp_path / "store")

    def committed():
        return sorted(map(tuple, g["read"](spark, store).collect()))

    for i, b in enumerate(g["batches"]):
        g["run"](b, store, i)
    rows = committed()
    assert rows
    g["run"](g["batches"][1], store, 1)  # replay of batch 1
    assert committed() == rows

    # a crash after the data write of label 3, before its marker
    g["read"](spark, store).withColumn("bl", F.lit(3).cast("long")).write.mode(
        "append"
    ).partitionBy("bl").parquet(f"{store}/{data_dir}")
    assert committed() == rows

    # no committed label holds rows
    rejected = str(tmp_path / "rejected")
    g["run"](g["rejected"], rejected, 0)
    empty = g["read"](spark, rejected)
    assert empty.collect() == []
    assert dict(empty.dtypes) == g["columns"]

    assert _visible(os.listdir(store)) == sorted(
        [data_dir, marker_dir, "accepted_schema.json"]
    )
    assert _visible(os.listdir(f"{store}/{data_dir}")) == [
        "bl=1",
        "bl=2",
        "bl=3",
    ]
    assert _visible(os.listdir(f"{store}/{marker_dir}")) == ["bl=1", "bl=2"]


@pytest.mark.parametrize(
    "read, columns",
    [
        (driftgate.read_verdicts, driftgate.META_SCHEMA),
        (leakgate.read_decisions, leakgate.DECISION_SCHEMA),
        (aligngate.read_verdicts, aligngate.VERDICT_SCHEMA),
    ],
    ids=["drift", "leak", "align"],
)
def test_marker_reader_on_store_without_marker(
    spark, tmp_path, read, columns
):
    got = read(spark, str(tmp_path / "nothing"))
    assert got.count() == 0
    assert got.columns == [c.split()[0] for c in columns.split(",")]


def test_no_hand_rolled_gate_protocol():
    """The stream wiring and the label-slice overwrite live in
    streaming/gate.py only."""
    banned = re.compile(
        r"\.foreachBatch\(|partitionOverwriteMode|partition_overwrite_mode\("
    )
    files = sorted((PACKAGE / "streaming").glob("*.py")) + [
        PACKAGE / "operators" / "ordering.py"
    ]
    hits = [
        f"{p.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for p in files
        if p.name != "gate.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []
