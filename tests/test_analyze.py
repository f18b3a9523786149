"""AnalyzeBatch parity: task-line validation contracts
(reference: internal/AnalyzeBatch.groovy:72-151)."""

from __future__ import annotations

import random
import re
import string

from pyspark.sql import functions as F

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.domain import (
    MAXIMUM_COMMAS,
    MAXIMUM_TASK_COUNT,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators.analyze import (
    analyze_batch,
    comma_count,
    validate_tasks,
)


def _tasks(spark, lines):
    return spark.createDataFrame(
        [(i + 1, line) for i, line in enumerate(lines)], "task_number long, raw_line string"
    )


def test_valid_line_passes(spark):
    out = validate_tasks(_tasks(spark, ["Model1,SN-001,Asset-1"])).collect()
    assert out[0].valid is True
    assert out[0].reason is None
    assert out[0].n_commas == 2


def test_too_many_commas(spark):
    out = validate_tasks(_tasks(spark, ["a,b,c,d"])).collect()
    assert out[0].valid is False
    assert f"Maximum allowed is ({MAXIMUM_COMMAS})" in out[0].reason


def test_invalid_form_space_in_model(spark):
    out = validate_tasks(_tasks(spark, ["bad model,SN,Asset"])).collect()
    assert out[0].valid is False
    assert out[0].reason == "Task has invalid form."


def test_missing_field_invalid(spark):
    out = validate_tasks(_tasks(spark, ["OnlyModel,SN"])).collect()
    assert out[0].valid is False


def test_length_caps(spark):
    # model_name max 100 word chars; 101 chars must fail, 100 pass
    ok = "m" * 100 + ",SN,Asset"
    bad = "m" * 101 + ",SN,Asset"
    rows = validate_tasks(_tasks(spark, [ok, bad])).orderBy("task_number").collect()
    assert rows[0].valid is True
    assert rows[1].valid is False


def test_hyphens_allowed_in_serial_and_asset_not_model(spark):
    rows = validate_tasks(
        _tasks(spark, ["Model,SN-1,Asset-1", "Mod-el,SN,Asset"])
    ).orderBy("task_number").collect()
    assert rows[0].valid is True
    assert rows[1].valid is False  # '-' not in [\w] for the model field


def test_comma_count_expression(spark):
    rows = _tasks(spark, ["a,b,c", "abc", ",,,,"]).select(
        comma_count(F.col("raw_line")).alias("n")
    ).collect()
    assert [r.n for r in rows] == [2, 0, 4]


def test_analyze_batch_summary(spark):
    lines = ["M,S,A"] * 3 + ["bad line,x,y"]
    df = _tasks(spark, lines).withColumn("batch_id", F.lit(1))
    row = analyze_batch(df).collect()[0]
    assert row.task_count == 4
    assert row.invalid_count == 1
    assert row.exceeds_maximum is False


def test_analyze_batch_oversize_flag(spark):
    df = spark.range(MAXIMUM_TASK_COUNT + 1).select(
        F.lit(1).alias("batch_id"),
        F.col("id").alias("task_number"),
        F.lit("M,S,A").alias("raw_line"),
    )
    row = analyze_batch(df).collect()[0]
    assert row.exceeds_maximum is True


def test_validate_tasks_field_detail(spark):
    lines = [
        (1, "Model,Serial-1,Asset-1"),          # valid
        (2, "has space,Serial-1,Asset-1"),      # model invalid (space)
        (3, "Model," + "x" * 201 + ",Asset-1"),  # serial too long
        (4, "Model,Serial-1,bad name"),          # asset invalid (space)
        (5, "Model,Serial-1"),                   # asset missing
        (6, "a,b,c,d,e"),                        # comma error -> no field
        # a trailing line terminator is not part of any field: Java's `$`
        # would accept it, the reference's whole-string match does not
        (7, "Model,Serial-1,Asset-1\r"),
        (8, "Model,Serial-1,Asset-1\u0085"),
        (9, "Model,Serial-1,Asset-1\u2028"),
        (10, "Model,Serial-1,Asset-1\u2029"),
        (11, "Model\u2028,Serial-1,Asset-1"),
    ]
    df = spark.createDataFrame(lines, "task_number long, raw_line string")
    rows = validate_tasks(df).collect()
    got = {r.task_number: r.field for r in rows}
    assert got == {
        1: None,
        2: "model_name",
        3: "serial_number",
        4: "asset_name",
        5: "asset_name",
        6: None,
        7: "asset_name",
        8: "asset_name",
        9: "asset_name",
        10: "asset_name",
        11: "model_name",
    }
    assert {r.task_number for r in rows if r.valid} == {1}


def test_validate_tasks_matches_reference_regex(spark):
    """Seeded random lines: valid iff at most two commas and a whole-string
    ASCII match of the reference task regex (AnalyzeBatch.groovy:89)."""
    rng = random.Random(4)
    word = string.ascii_letters + string.digits + "_"
    odd = "- ,.\u00e9\r\n\u0085\u2028"

    def field() -> str:
        n = rng.choice([0, 1, 3, 8, 8, 8, 8, 100, 101, 200, 201])
        chars = [rng.choice(word) for _ in range(n)]
        if rng.random() < 0.15:
            chars.insert(rng.randint(0, len(chars)), rng.choice(odd))
        return "".join(chars)

    lines = [
        ",".join(field() for _ in range(rng.choice([1, 2, 3, 3, 3, 3, 3, 3, 4])))
        for _ in range(5000)
    ]
    got = {
        r.task_number: r.valid
        for r in validate_tasks(_tasks(spark, lines)).select("task_number", "valid").collect()
    }
    reference = re.compile(r"\w{1,100},[\w-]{1,200},[\w-]{1,200}", re.ASCII)
    want = {
        i + 1: line.count(",") <= MAXIMUM_COMMAS and reference.fullmatch(line) is not None
        for i, line in enumerate(lines)
    }
    assert got == want
