"""Schemas for the interleaved-documents extraction engine.

The source-of-truth table shape comes from BASELINE.json ``input_hint``::

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

which is the reference's implicit data model made explicit (SURVEY.md §1):
a PDF *is* an interleaved sequence of native-text spans and page-image
spans in reading order; the engine turns ``image`` spans into positioned
``text`` spans while preserving order.

Media is carried **by reference** (``media_ref``), never by value, matching
the reference's ``textonly_pdf`` lesson (pdf2pdfocr.py:116-118): text spans
must not duplicate image bytes. In the sandbox a media_ref is a
self-describing ``sim://`` URI that deterministically encodes the synthetic
page payload (FIXTURES.md §A); on a real cluster it would key an object
store / Iceberg media table.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# --- span / document schema (the input_hint shape, exactly) -----------------

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),       # 'text' | 'image'
        T.StructField("text", T.StringType(), True),       # '' for image spans
        T.StructField("media_ref", T.StringType(), True),  # '' for text spans
        T.StructField("offset", T.IntegerType(), True),    # reading order, 0-based
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

# documents table + per-doc metadata (reference: PyPDF2 metadata dict,
# pdf2pdfocr.py:1178-1187 → MapType column per SURVEY §1.2)
DOCUMENTS_META_SCHEMA = T.StructType(
    list(DOCUMENTS_SCHEMA.fields)
    + [T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True)]
)

# --- exploded page rows (post-posexplode of image spans) --------------------

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),   # span offset in the doc
        T.StructField("media_ref", T.StringType(), False),
    ]
)

# OCR stage output: one row per page, words nested (kept nested so the
# reassembly groupBy moves one small array per page, not one row per word).
# The hot path carries word TEXT only — bbox geometry is needed solely by
# PDF re-synthesis sinks (H7), so shipping it through the reassembly shuffle
# would roughly double the shuffled bytes for nothing; sinks use the
# geometry schema below via pipeline.run_ocr(..., keep_geometry=True).
OCR_PAGE_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("page_text", T.StringType(), True),
        T.StructField("words", T.ArrayType(T.StringType()), True),
        T.StructField("error", T.StringType(), True),      # quarantine reason
        # per-page OCR wall seconds — summed per doc at reassembly for the
        # document-level timeout budget (reference --timeout bounds the whole
        # document, pdf2pdfocr.py:1511-1528)
        T.StructField("wall_s", T.DoubleType(), True),
    ]
)

WORD_BOX_STRUCT = T.StructType(
    [
        T.StructField("text", T.StringType(), True),
        T.StructField("x1", T.IntegerType(), True),
        T.StructField("y1", T.IntegerType(), True),
        T.StructField("x2", T.IntegerType(), True),
        T.StructField("y2", T.IntegerType(), True),
        # H7 render geometry (pdf2pdfocr.py:419-430): fontsize = bbox height
        # in pt; horizontal scale stretches Helvetica to the bbox width.
        # h_scale is null for degenerate (0-height) boxes.
        T.StructField("fontsize_pt", T.DoubleType(), True),
        T.StructField("h_scale", T.DoubleType(), True),
    ]
)

OCR_PAGE_GEOMETRY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("page_text", T.StringType(), True),
        T.StructField("word_boxes", T.ArrayType(WORD_BOX_STRUCT), True),
        T.StructField("page_w_pt", T.DoubleType(), True),
        T.StructField("page_h_pt", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("wall_s", T.DoubleType(), True),
    ]
)

# --- synthetic media payload (what a sim:// media_ref encodes) --------------

MEDIA_REF_RE = re.compile(
    r"^sim://w=(?P<w>\d+);h=(?P<h>\d+);dpi=(?P<dpi>\d+);colors=(?P<colors>\d+);"
    r"rot=(?P<rot>\d+);skew=(?P<skew>[0-9.]+);layout=(?P<layout>[a-z_]+);"
    r"seed=(?P<seed>\d+)$"
)


@dataclass(frozen=True)
class PagePayload:
    """Deterministic synthetic page record (FIXTURES.md §A).

    Fields mirror what the reference extracts from a real page image:
    dims+dpi (pdf2pdfocr.py:299-309), color count for blank detection
    (1005-1016), OSD rotation (1056-1068), deskew percentage (94-101),
    and the seed from which the OCR simulator reproduces known hOCR.
    """

    width_px: int
    height_px: int
    dpi: int
    n_colors: int
    rotation: int
    skew_pct: float
    layout: str
    hocr_seed: int

    def to_ref(self) -> str:
        return (
            f"sim://w={self.width_px};h={self.height_px};dpi={self.dpi};"
            f"colors={self.n_colors};rot={self.rotation};skew={self.skew_pct};"
            f"layout={self.layout};seed={self.hocr_seed}"
        )

    @staticmethod
    def from_ref(media_ref: str) -> "PagePayload":
        m = MEDIA_REF_RE.match(media_ref)
        if m is None:
            raise ValueError(f"unreadable media payload: {media_ref!r}")
        return PagePayload(
            width_px=int(m.group("w")),
            height_px=int(m.group("h")),
            dpi=int(m.group("dpi")),
            n_colors=int(m.group("colors")),
            rotation=int(m.group("rot")),
            skew_pct=float(m.group("skew")),
            layout=m.group("layout"),
            hocr_seed=int(m.group("seed")),
        )

    @property
    def is_blank(self) -> bool:
        # reference: PIL getcolors() returns exactly one color
        # (pdf2pdfocr.py:243-252, 1011-1016)
        return self.n_colors == 1


# --- driver-built frames ------------------------------------------------------

def driver_frame(
    spark: SparkSession, schema: T.StructType | str, columns: list
) -> DataFrame:
    """A frame of driver-held values (one list per field of ``schema``, a
    StructType or DDL string), handed to the JVM as one Arrow table.

    The jobs' driver-built rows (metrics ledger, commit marker, ANN
    sidecar, driver-finished cluster labels) go through here, never through
    ``createDataFrame(<python list>)``: that form ships
    pickled rows through a ``PythonRDD``, so its first use in a session
    starts PySpark's Python worker daemon (2.5-4.9 s cold, 0.8-1.0 s per
    warm one-row write on a 4-core host), while the Arrow table is read by
    the JVM directly (~0.3 s warm). There is no silent fallback to the
    pickled form for Arrow tables, so a conversion error raises. The frame
    has one partition (the JVM would spread the rows over the default
    parallelism): its rows fit in driver memory, and it is written as one
    file, not one per core."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema).coalesce(1)
