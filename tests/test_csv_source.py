"""CSV task-file source: line numbering + field splitting
(reference: CreateBatch.groovy request contract)."""

from __future__ import annotations

import pytest

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources.csv_tasks import (
    parse_task_lines,
    read_task_file,
)


def test_read_task_file_numbers_lines(spark, tmp_path):
    p = tmp_path / "tasks.csv"
    p.write_text("M1,S1,A1\nM2,S2,A2\nM3,S3,A3\n")
    rows = read_task_file(spark, str(p), batch_id=7).orderBy("task_number").collect()
    assert [r.task_number for r in rows] == [1, 2, 3]
    assert all(r.batch_id == 7 for r in rows)
    assert rows[1].model_name == "M2"
    assert rows[2].asset_name == "A3"


def test_parse_task_lines_extracts_first_three_fields(spark):
    df = spark.createDataFrame(
        [(1, "M,S,A,prop1,group1"), (2, "M2,S2")],
        "task_number long, raw_line string",
    )
    rows = parse_task_lines(df).orderBy("task_number").collect()
    # extra property/group segments stay in raw_line; 3 fields extracted
    assert rows[0].model_name == "M"
    assert rows[0].serial_number == "S"
    assert rows[0].asset_name == "A"
    assert rows[0].raw_line == "M,S,A,prop1,group1"
    # short line → missing third field is null
    assert rows[1].asset_name is None


def test_read_task_file_numbers_across_splits(spark, tmp_path):
    """Numbering must stay correct under a split size that would cut the
    file into many splits in line mode."""
    p = tmp_path / "many.csv"
    n = 5000
    p.write_text("".join(f"M{i},S{i},A{i}\n" for i in range(1, n + 1)))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")  # force splits
    try:
        df = read_task_file(spark, str(p))
        rows = df.select("task_number", "model_name").collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert len(rows) == n
    got = {r.task_number: r.model_name for r in rows}
    assert len(got) == n  # task numbers unique
    assert got[1] == "M1" and got[n] == f"M{n}"
    # every line number maps to the matching file line
    assert all(got[i] == f"M{i}" for i in range(1, n + 1, 997))


def test_read_task_file_plan_has_no_single_partition_exchange(spark, tmp_path):
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.plans.checks import (
        plan_string,
    )

    p = tmp_path / "tasks.csv"
    p.write_text("M1,S1,A1\nM2,S2,A2\n")
    plan = plan_string(read_task_file(spark, str(p)))
    # the line data must never funnel through one partition
    assert "Exchange SinglePartition" not in plan
    # one scan numbers the lines: no shuffle and no broadcast at all
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize(
    "text, expected",
    [
        ("M1,S1\r\nM2,S2\r\n", [(1, "M1,S1"), (2, "M2,S2")]),
        ("M1,S1\rM2,S2\r", [(1, "M1,S1"), (2, "M2,S2")]),
        ("a\n\nb\n", [(1, "a"), (2, ""), (3, "b")]),
        ("a\nb\n\n", [(1, "a"), (2, "b"), (3, "")]),
        ("", []),
        ("\n", [(1, "")]),
    ],
    ids=["crlf", "lone-cr", "blank-middle", "trailing-blank", "empty", "only-lf"],
)
def test_read_task_file_line_endings(spark, tmp_path, text, expected):
    """Line terminators and blank lines number as Spark's line-mode text
    reader does: CRLF, CR and LF each end a line, blank lines are kept as
    "", and a trailing terminator does not start an empty last line."""
    p = tmp_path / "tasks.csv"
    p.write_bytes(text.encode())
    rows = read_task_file(spark, str(p)).select("task_number", "raw_line").collect()
    assert sorted(map(tuple, rows)) == expected


def test_read_task_file_numbers_restart_per_file(spark, tmp_path):
    """A directory of uploads numbers each file's lines from 1."""
    (tmp_path / "a.csv").write_text("A1,S,X\nA2,S,X\n")
    (tmp_path / "b.csv").write_text("B1,S,X\nB2,S,X\nB3,S,X\n")
    rows = read_task_file(spark, str(tmp_path)).collect()
    got = sorted((r.model_name, r.task_number) for r in rows)
    assert got == [("A1", 1), ("A2", 2), ("B1", 1), ("B2", 2), ("B3", 3)]
