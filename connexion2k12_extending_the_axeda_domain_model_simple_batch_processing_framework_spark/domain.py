"""Batch-processing domain model.

Re-expresses the reference's extended-object domain model
(reference: init/InitializeBatchFramework.groovy:247-345 — the
``connexion.batch.{Configuration,Anchor,ErrorAnchor,SuccessAnchor}`` types)
as plain Spark schemas over columnar tables. An "anchor object per task
outcome" becomes a row in a task-results table; the batch state machine is a
derived column, not mutable object state.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Batch lifecycle states (reference: ProcessBatch.groovy markBatchInProgress,
# BatchFinalizer.groovy markBatchSuccess/markBatchCompleteWithErrors,
# CreateBatch.groovy createBatchAnchor initial state).
STATE_NOT_STARTED = "NOT_STARTED"
STATE_IN_PROCESS = "IN_PROCESS"
STATE_SUCCESS = "SUCCESS"
STATE_COMPLETE_WITH_ERROR = "COMPLETE_WITH_ERROR"

# Validation limits (reference: AnalyzeBatch.groovy:72-76)
MAXIMUM_TASK_COUNT = 1000
MAXIMUM_COMMAS = 2

# Task line field caps (reference: AnalyzeBatch.groovy:89 —
# ``([\w]){1,100},([\w-]){1,200},([\w-]{1,200})``): model, serial and asset
# name. ``operators.analyze.validate_tasks`` states the whole task rule as
# these three caps plus MAXIMUM_COMMAS.
MODEL_NAME_MAX = 100
SERIAL_MAX = 200
ASSET_NAME_MAX = 200

DEFAULT_BATCH_NAME = "Connexion 2012 Batch Processing Job"

# connexion.batch.Anchor (reference: InitializeBatchFramework.groovy
# createBatchAnchorObjectType)
BATCH_ANCHOR_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("state", T.StringType(), False),
        T.StructField("inception_time", T.TimestampType(), True),
        T.StructField("completion_time", T.TimestampType(), True),
        T.StructField("size", T.LongType(), True),
        T.StructField("notify_email", T.StringType(), True),
    ]
)

# A task row: one CSV line of a batch upload
# (reference: CreateBatch.groovy request contract — CSV
# ``ModelName,SerialNumber,AssetName[,Props,AssetGroup]``).
TASK_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("task_number", T.LongType(), False),
        T.StructField("raw_line", T.StringType(), True),
        T.StructField("model_name", T.StringType(), True),
        T.StructField("serial_number", T.StringType(), True),
        T.StructField("asset_name", T.StringType(), True),
    ]
)

# Task outcome rows: union of the reference's SuccessAnchor / ErrorAnchor
# objects (reference: ProcessBatch.groovy createBatchSuccess/createBatchError).
TASK_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("task_number", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("reason", T.StringType(), True),
        T.StructField("inception_time", T.TimestampType(), True),
    ]
)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
