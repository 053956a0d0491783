"""Remaining driver-checked queries: salted aggregation (skew path,
result identical to plain groupBy — full oracle), batch sliding
windows, and the multimodal feature-extraction pipeline (mapInPandas —
rows-only; kernels are deterministic stubs)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import fixed_point_sum, fixed_point_sum_sql
from ..operators.multimodal import documents_as_media, extract_features
from ..operators.skew import salted_sum_count
from ..sources.tables import load_table
from .registry import query


@query(
    "skew_salted_revenue_by_segment",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def skew_salted_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a low-cardinality (maximally
    hot) key: 5 segments x 150k orders. The salt splits each segment
    across 16 partial aggregates; the final combine still produces the
    exact plain-groupBy answer (decimal sums are associative), which is
    precisely what the oracle checks."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(F.col("c_mktsegment").alias("segment"), "o_totalprice")
    out = salted_sum_count(
        joined,
        ["segment"],
        F.col("o_totalprice").cast("decimal(12,2)"),
        salts=16,
        sum_alias="total_dec",
        count_alias="n",
    )
    return out.select(
        "segment", F.col("total_dec").cast("double").alias("total"), "n"
    ).orderBy("segment")


@query(
    "events_sliding_3h_daily",
    oracle=f"""
    WITH offsets AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(off)),
    slid AS (
      SELECT date_trunc('hour', e.ts) - INTERVAL (o.off) HOUR AS window_start,
             e.event_type, e.value
      FROM events e CROSS JOIN offsets o
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {fixed_point_sum_sql('value')} AS total_value
    FROM slid
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_sliding_3h_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the sliding window (3-hour windows sliding hourly):
    each event lands in 3 windows via an explode of hour offsets — the
    same window-assignment rule Structured Streaming's F.window uses
    internally, expressed relationally so DuckDB can oracle it."""
    events = load_table(spark, sf_dir, "events")
    slid = events.select(
        F.explode(
            F.array(*[
                (F.date_trunc("hour", "ts") - F.make_interval(hours=F.lit(off)))
                for off in range(3)
            ])
        ).alias("window_start"),
        "event_type",
        "value",
    )
    return (
        slid.groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fixed_point_sum("value").alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


def _hexbyte(h: str, i: int) -> str:
    """DuckDB expr: byte ``i`` of the hex digest string ``h``."""
    return (
        f"((strpos('0123456789abcdef', substr({h}, {2 * i + 1}, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr({h}, {2 * i + 2}, 1)) - 1))"
    )


def _multimodal_oracle() -> str:
    """DuckDB replay of the multimodal stub kernels: the decode stubs
    derive every output from sha256(payload) (operators/multimodal.py
    _decode_stub), and payload is the UTF-8 text bytes — so DuckDB's
    sha256() reproduces width/height/n_frames byte for byte. This
    upgrades the mapInPandas pipeline from rows-only to hash-verified:
    the Arrow batch plumbing must deliver exactly the kernel outputs."""
    b0, b1, b2, b3, b4 = (_hexbyte("sha", i) for i in range(5))
    return f"""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             CAST(strlen(text) AS BIGINT) AS n_bytes,
             sha256(text) AS sha
      FROM documents
    )
    SELECT media_id, kind, n_bytes, sha AS sha256,
           CAST(CASE kind WHEN 'image' THEN 64 + {b0} % 192
                          WHEN 'audio' THEN 0
                          ELSE 320 + {b0} % 64 END AS INTEGER) AS width,
           CAST(CASE kind WHEN 'image' THEN 64 + {b1} % 192
                          WHEN 'audio' THEN 0
                          ELSE 240 + {b1} % 48 END AS INTEGER) AS height,
           CAST(CASE kind WHEN 'image' THEN 1
                          WHEN 'audio' THEN 8000 + ({b2} * 256 + {b3}) % 8000
                          ELSE 24 + {b4} % 240 END AS INTEGER) AS n_frames
    FROM m
    """


@query("multimodal_feature_extract", oracle=_multimodal_oracle())
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline end-to-end: documents-as-media binary
    payloads -> mapInPandas decode/feature kernels (deterministic
    stubs — no codec libs in this container) -> typed feature rows.
    Hash-verified: the stub kernels derive everything from
    sha256(payload), which DuckDB replays in SQL — so the driver
    compare exercises the full Arrow/mapInPandas round trip."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return extract_features(media).select(
        "media_id", "kind", "n_bytes", "sha256", "width", "height", "n_frames"
    )


_FRAME_EVERY_N = 50


def _frame_sample_oracle() -> str:
    """DuckDB replay of sample_frames over documents-as-media: video
    rows are doc_id % 3 = 2, the stub frame count derives from sha256
    digest byte 4 (same as _multimodal_oracle), the sampled indices
    are generate_series(0, n_frames-1, every_n), and each frame
    fingerprint is sha256(payload ++ ':' ++ ascii(idx)) — VARCHAR-only
    on purpose (DuckDB 1.0's sha256 has no BLOB overload; the kernel's
    fingerprint suffix is ASCII so the oracle can replay it)."""
    b4 = _hexbyte("sha", 4)
    return f"""
    WITH m AS (
      SELECT doc_id AS media_id, text, sha256(text) AS sha
      FROM documents WHERE doc_id % 3 = 2
    ),
    meta AS (
      SELECT media_id, text, 24 + {b4} % 240 AS n_frames FROM m
    ),
    frames AS (
      SELECT media_id, text,
             unnest(generate_series(0, n_frames - 1, {_FRAME_EVERY_N}))
               AS frame_idx
      FROM meta
    )
    SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           sha256(text || ':' || CAST(frame_idx AS VARCHAR)) AS frame_sha
    FROM frames
    ORDER BY media_id, frame_idx
    """


@query("multimodal_frame_sample", oracle=_frame_sample_oracle())
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame-sampling arm of the multimodal family
    (operators/multimodal.py sample_frames): filter media to videos,
    decode frame counts (stub — real impl: pyav in the same
    mapInPandas iterator), emit one row per every-50th frame with a
    deterministic frame fingerprint, keeping payloads binary
    end-to-end. Completes the registered multimodal surface: decode/
    feature (multimodal_feature_extract, in-window r6+) + frame
    sampling here; resize stays pytest-pinned (its scaled dimensions
    are already covered by the decode oracle's width/height replay).

    Hash-verified through the Arrow boundary: the kernel's per-frame
    sha256 fingerprints are replayed by the SQL oracle, so the
    mapInPandas batch plumbing (explode-shaped output, one input row
    to many output rows) must deliver exactly the kernel's rows.

    Scale shape: videos filter BEFORE the Python stage (scan-fused,
    so the Arrow transfer carries only video rows); the kernel is
    batch-amortized Arrow, one output row per sampled frame — output
    grain is frames, the natural parallel unit for any downstream
    per-frame model scoring; no shuffle anywhere (the orderBy is the
    gate's determinism sort)."""
    from ..operators.multimodal import documents_as_media, sample_frames

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n=_FRAME_EVERY_N)
    return frames.select(
        "media_id",
        "frame_idx",
        F.lower(F.hex("frame")).alias("frame_sha"),
    ).orderBy("media_id", "frame_idx")


def _resize_dims_oracle(max_side: int = 224) -> str:
    """DuckDB replay of resize_images over documents-as-media: image
    rows are doc_id % 3 = 0, the stub decode dims derive from sha256
    digest bytes 0/1 (same as _multimodal_oracle), the scale is
    min(1, max_side/max(w,h)) and the resized dims truncate — the
    identical float chain the pandas kernel runs (ints × one double
    quotient, floor on positives == Python int())."""
    b0 = _hexbyte("sha", 0)
    b1 = _hexbyte("sha", 1)
    return f"""
    WITH m AS (
      SELECT doc_id AS media_id, sha256(text) AS sha
      FROM documents WHERE doc_id % 3 = 0
    ),
    dims AS (
      SELECT media_id,
             64 + {b0} % 192 AS w,
             64 + {b1} % 192 AS h
      FROM m),
    s AS (
      SELECT media_id, w, h,
             least(CAST(1.0 AS DOUBLE),
                   CAST({max_side}.0 AS DOUBLE)
                     / CAST(greatest(w, h) AS DOUBLE)) AS sc
      FROM dims)
    SELECT media_id,
           CAST(floor(CAST(w AS DOUBLE) * sc) AS INTEGER) AS width,
           CAST(floor(CAST(h AS DOUBLE) * sc) AS INTEGER) AS height
    FROM s
    ORDER BY media_id
    """


@query("multimodal_resize_dims", oracle=_resize_dims_oracle())
def multimodal_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESIZE arm of the multimodal family, now oracle-checked
    (r13 noted it as pytest-only): documents-as-media image rows
    through operators/multimodal.resize_images — decode dims (stub),
    scale to a 224 max side, truncate — emitting the resized
    dimensions per image. The payload column stays binary end-to-end
    through the Arrow boundary; the DuckDB twin replays the stub's
    digest-derived dims and the exact min(1, 224/max(w,h)) float
    chain, so the mapInPandas batch plumbing must reproduce the
    kernel bit-for-bit to hash-match.

    Scale shape: images filter BEFORE the Python stage; the kernel is
    batch-amortized Arrow with no shuffle; output is image-grain (the
    orderBy is the gate's determinism sort)."""
    from ..operators.multimodal import documents_as_media, resize_images

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return (
        resize_images(media, max_side=224)
        .select("media_id", "width", "height")
        .orderBy("media_id")
    )
