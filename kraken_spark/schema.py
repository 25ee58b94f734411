"""Arrow + Spark schemas for the extraction dataflow (SURVEY.md §1).

The nested line/region structs mirror the reference's Segmentation /
BaselineLine / Region / BaselineOCRRecord dataclasses
(/root/reference/kraken/containers.py:95-354,430-605) flattened onto a
columnar layout: one row per url with ARRAY<STRUCT> lines/regions columns.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.pandas.types import from_arrow_schema

# Each wire schema is spelled once, in Arrow; its Spark twin (the *_DDL
# names, a StructType that mapInArrow/readStream take like a DDL string)
# is derived from it.

DOCUMENTS_ARROW = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

DOCUMENTS_DDL = from_arrow_schema(DOCUMENTS_ARROW)

LINE_STRUCT = pa.struct(
    [
        pa.field("id", pa.string()),
        pa.field("rank", pa.int32()),
        pa.field("bbox", pa.list_(pa.int32())),
        pa.field("baseline", pa.list_(pa.list_(pa.int32()))),
        pa.field("boundary", pa.list_(pa.list_(pa.int32()))),
        pa.field("region_ids", pa.list_(pa.string())),
        pa.field("prediction", pa.string()),
        pa.field("cuts", pa.list_(pa.list_(pa.int32()))),
        pa.field("confidences", pa.list_(pa.float32())),
        pa.field("display_order", pa.bool_()),
        # the reference's BaselineLine.tags dict[str, list[dict[str, str]]]
        # (containers.py:88), JSON-encoded for a stable columnar type, and
        # its per-line language list (containers.py / lib/xml readers)
        pa.field("tags", pa.string()),
        pa.field("language", pa.list_(pa.string())),
    ]
)

REGION_STRUCT = pa.struct(
    [
        pa.field("id", pa.string()),
        pa.field("region_type", pa.string()),
        pa.field("boundary", pa.list_(pa.list_(pa.int32()))),
        pa.field("rank", pa.int32()),
        pa.field("tags", pa.string()),
        pa.field("language", pa.list_(pa.string())),
    ]
)

EXTRACTION_ARROW = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("base_dir", pa.string()),
        pa.field("text", pa.string()),
        pa.field("n_lines", pa.int32()),
        pa.field("n_regions", pa.int32()),
        pa.field("guard_tripped", pa.bool_()),
        pa.field("lines", pa.list_(LINE_STRUCT)),
        pa.field("regions", pa.list_(REGION_STRUCT)),
        pa.field("cer", pa.float64()),
        pa.field("wall_ms", pa.float64()),
        pa.field("n_px", pa.int64()),
        pa.field("width", pa.int32()),
        pa.field("height", pa.int32()),
        # alternative reading orders (the Segmentation.line_orders field,
        # /root/reference/kraken/containers.py:251-354): [0] = neural order
        pa.field("line_orders", pa.list_(pa.list_(pa.int32()))),
        pa.field("partition_id", pa.int32()),
    ]
)

EXTRACTION_DDL = from_arrow_schema(EXTRACTION_ARROW)

# the fused plan's markdown=True output
EXTRACTION_MARKDOWN_ARROW = EXTRACTION_ARROW.append(pa.field("markdown", pa.string()))

# per-partition lineage/metrics rows (north rule: per-partition lineage +
# metrics; SURVEY.md §7.4)
METRICS_DDL = (
    "run_id string, stage string, partition_id int, n_docs bigint, "
    "n_lines bigint, n_px bigint, mean_cer double, wall_ms double"
)
