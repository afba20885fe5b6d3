"""The transcripts input schema (SURVEY §1.2).

The extraction output schema is derived from its input by
`kernels.extract_turns`; the manifest's is `pipeline._MANIFEST_SCHEMA`.
The transcripts shape is EXACTLY the BASELINE.json input_hint:
(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp).
"""

from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
])
