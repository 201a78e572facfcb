"""Schemas for the import pipeline (reference models, SURVEY.md §1.1).

Everything crossing a boundary in the reference is a string (plus
[]string CSV header and nullable int order — model/models.go:13-34,
store/store.go:16,21); these schemas pin exactly that, nothing inferred.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: NewInstance event (event/events.go:4-7, Avro schema schema/schema.go:7-21)
NEW_INSTANCE_SCHEMA = T.StructType(
    [
        T.StructField("file_url", T.StringType(), True),
        T.StructField("instance_id", T.StringType(), True),
    ]
)

#: InstanceCompleted event (event/events.go:10-13, schema/schema.go:28-47)
INSTANCE_COMPLETED_SCHEMA = NEW_INSTANCE_SCHEMA

#: Dead letter: an undecodable payload or an invalid event, with the reason
DEAD_LETTER_SCHEMA = T.StructType(
    [
        T.StructField("payload", T.StringType(), True),
        T.StructField("reason", T.StringType(), True),
    ]
)

#: Instance entity (model/models.go:72-97)
INSTANCE_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.StringType(), False),
        T.StructField("csv_header", T.ArrayType(T.StringType()), True),
    ]
)

#: Dimension as fetched from the Dataset API (model/models.go:13-34;
#: code_list_id comes from the nested Links.CodeList.ID projection — R7)
DIMENSION_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.StringType(), False),
        T.StructField("dimension_id", T.StringType(), True),
        T.StructField("option", T.StringType(), True),
        T.StructField("node_id", T.StringType(), True),
        T.StructField("code_list_id", T.StringType(), True),
    ]
)

#: code → order lookup table held in the graph (store/store.go:21)
CODE_LIST_SCHEMA = T.StructType(
    [
        T.StructField("code_list_id", T.StringType(), False),
        T.StructField("code", T.StringType(), False),
        T.StructField("order", T.IntegerType(), True),  # nullable by contract
    ]
)

#: graph node table (Instance + Dimension nodes as rows)
NODE_SCHEMA = T.StructType(
    [
        T.StructField("node_kind", T.StringType(), False),  # instance | dimension
        T.StructField("instance_id", T.StringType(), False),
        T.StructField("dimension_name", T.StringType(), True),
        T.StructField("option", T.StringType(), True),
        T.StructField("csv_header", T.ArrayType(T.StringType()), True),
    ]
)

#: dimension→code relationship table (store/store.go:18)
EDGE_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.StringType(), False),
        T.StructField("code_list_id", T.StringType(), True),
        T.StructField("code", T.StringType(), True),
    ]
)

#: Dataset-API OptionUpdate patch row (dataset.OptionUpdate, used at
#: handler/incoming_instance_handler.go:243-267)
PATCH_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),  # = DimensionID
        T.StructField("option", T.StringType(), True),
        T.StructField("node_id", T.StringType(), True),
        T.StructField("order", T.IntegerType(), True),
    ]
)
