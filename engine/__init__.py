"""PySpark-native point-in-time feature-engineering engine for
multi-turn conversation/agent transcripts.

Re-expresses the computational shape of the reference
(Kira7dn/Low_Level_Feature_Extraction — per-item multi-family feature
vectors with per-stage error isolation, see SURVEY.md) as a
leakage-free as-of join + windowed-aggregation pipeline over a
transcripts table (conv_id, turn_idx, role, text, tool, ts).

Spark-first: DataFrame/window built-ins for everything
SQL-expressible; Arrow-vectorized Python kernels (pandas_udf,
mapInArrow) only for genuinely kernel-shaped work (exact-Python text
cleanup, expanding top-k over a large tool vocabulary).
"""

__version__ = "0.1.0"
