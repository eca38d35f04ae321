"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata structs.
Sizes and checksums are native Spark functions (``length``, ``crc32``,
``sha2``), so metadata extraction starts no Python worker. Decoding media
(codecs such as PIL or ffmpeg) is not part of the package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def extract_media_metadata(df: DataFrame, ref_col: str = "media_ref",
                           payload_col: str = "payload",
                           mime_col: str | None = None) -> DataFrame:
    """Size and checksums per media item, as native functions →
    (media_ref string, mime string, n_bytes bigint, crc32 bigint,
    sha256 string): ``n_bytes`` is the payload's byte length, ``crc32`` and
    ``sha256`` are those of ``zlib.crc32`` and ``hashlib.sha256`` (hex).
    Without ``mime_col`` every item is ``application/octet-stream``. A NULL
    payload gives NULL ``n_bytes``, ``crc32`` and ``sha256``."""
    pay = F.col(payload_col)
    mime = F.col(mime_col) if mime_col else F.lit("application/octet-stream")
    return df.select(F.col(ref_col).cast("string").alias("media_ref"),
                     mime.cast("string").alias("mime"),
                     F.length(pay).cast("bigint").alias("n_bytes"),
                     F.crc32(pay).alias("crc32"),
                     F.sha2(pay, 256).alias("sha256"))


# ---------------------------------------------------------------------------
# Span-sequence invariant (the north rule's per-row equality contract)
# ---------------------------------------------------------------------------

def _span_field(c) -> "F.Column":
    """Injective field encoding: NULL → ``N``; a value → ``<len>#<value>``.

    Length-prefixing makes the concatenation prefix-free decodable, so NO
    payload content (``:``, ``|``, control chars, even a literal ``N`` or
    ``7#``) can make two distinct span sequences collide (ADVICE r3: the old
    ``:``-joined form was forgeable and silently dropped NULL offsets)."""
    return F.when(c.isNull(), F.lit("N")).otherwise(
        F.concat(F.length(c).cast("string"), F.lit("#"), c))


def span_signature(spans) -> "F.Column":
    """Canonical per-row signature of an interleaved span sequence: md5 over
    length-prefix-encoded ``kind/text/media_ref/offset`` pieces joined IN
    ARRAY ORDER.

    Two rows (or two engines) produce the same signature iff their span
    sequences are equal element-wise AND in the same order — the north
    rule's per-row invariant (span-sequence equality on kind/text/media_ref/
    order) made into one comparable column. The per-field encoding is
    injective (see :func:`_span_field`): NULL never collides with a real
    value, and separator characters inside payloads cannot forge a span
    boundary. Pure Column expressions; DuckDB reproduces the signature
    bit-for-bit (driver query mm2)."""
    piece = F.transform(
        spans,
        lambda s: F.concat(
            _span_field(s["kind"]),
            _span_field(s["text"]),
            _span_field(s["media_ref"]),
            _span_field(s["offset"].cast("string"))))
    return F.md5(F.concat_ws("|", piece))


def span_sequence_violations(df: DataFrame, spans_col: str = "spans",
                             id_col: str = "doc_id") -> DataFrame:
    """Violation rows for span sequences that break the interleaving
    contract: offsets must be exactly 0..n-1 in array order (the 'order'
    half of the invariant), and each span must carry the payload its kind
    declares (text spans a text, media spans a media_ref).

    One shuffle-free projection + explode of the (tiny) per-row violation
    array — scales like the validation pass."""
    spans = F.col(spans_col)
    bad_order = F.exists(
        F.zip_with(spans,
                   F.sequence(F.lit(0),
                              F.greatest(F.size(spans) - 1, F.lit(0))),
                   lambda s, i: s["offset"] != i),
        lambda x: x)
    bad_shape = F.exists(
        spans,
        lambda s: ((s["kind"] == "text") & s["text"].isNull())
        | ((s["kind"] == "media") & s["media_ref"].isNull()))
    v = F.array_compact(F.array(
        F.when(bad_order & (F.size(spans) > 0), F.struct(
            F.lit("spans").alias("field"),
            F.lit("sequence").alias("error_type"),
            F.lit("offsets 0..n-1 in order").alias("expected"),
            F.lit("out-of-order span offsets").alias("actual"))),
        F.when(bad_shape, F.struct(
            F.lit("spans").alias("field"),
            F.lit("sequence").alias("error_type"),
            F.lit("kind-declared payload present").alias("expected"),
            F.lit("span payload missing for kind").alias("actual"))),
    ))
    return (df.select(id_col, F.explode(v).alias("v"))
            .select(id_col, "v.field", "v.error_type", "v.expected",
                    "v.actual"))
