"""Multimodal-column operators: opaque binary payloads + typed metadata
(images/audio/video in a 100 TB training pipeline travel exactly like
this — a `binary` column plus a metadata struct, processed by
Arrow-batched Python UDFs).

The container has no image/audio codecs, so the DECODE step is stubbed:
`_decode_payload` tries a real codec import and falls back to a
clearly-marked deterministic fake (SURVEY brief: make the Spark-side
plumbing — schema, partitioning, UDF signature, batch shape — real and
tested; stub only the codec call).  The payloads themselves are
deterministic utf-8 bytes derived from documents.text, so every run —
and the DuckDB oracle — sees identical binary content.

Round-2 upgrade: both decode ops are now SQL-MATCHED, not rows-only.
documents.text is pure ASCII (verified at every SF), so byte slicing ==
char slicing and the fallback decode is exactly reproducible in SQL:
metadata dims come from md5 (computable identically in both engines —
the previous xxhash64 had no DuckDB counterpart), and the float features
are derived from exact integer byte moments, so both engines execute the
same IEEE double expression on identical operands (bit-identical before
rounding).  Rounding happens JVM-side with F.round / SQL ROUND (both
half-away-from-zero for positives) — never in Python, whose round() is
half-even (ROUND_NOTES.md).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.session import ckpt
from un_datapipeline_spark.tables import load_table, winner_document_sql


def _dim_from_md5(md5_col, offset: int):
    """16 + (ascii(c1)*256 + ascii(c2)) % 64 over two md5 hex chars —
    the engine-portable 'random' dimension (same formula in oracles)."""
    c1 = F.ascii(F.substring(md5_col, offset, 1))
    c2 = F.ascii(F.substring(md5_col, offset + 1, 1))
    return ((c1 * 256 + c2) % 64 + 16).cast("int")


def documents_as_media(
    spark: SparkSession, sf_dir: str, dedup_keys: bool = False
) -> DataFrame:
    """The canonical multimodal frame: (doc_id, payload binary, meta
    struct<mime,width,height>).  Metadata is derived deterministically
    from content (md5 hex chars) so tests and oracles are hermetic.

    ``dedup_keys`` applies the duplicate-surrogate-key contract
    (tables.winner_document) — required by ops whose OUTPUT is keyed per
    doc_id (per-doc feature moments, per-doc window grids): a re-crawled
    id would merge two payloads' lanes until e.g. the variance goes
    negative (R10_DUPKEYS_PLAN class 1).  Ops that aggregate across
    documents (mm_binary_stats by lang) count every delivered row and
    leave it False."""
    d = load_table(spark, sf_dir, "documents")
    if dedup_keys:
        from un_datapipeline_spark.tables import winner_document

        d = winner_document(d)
    m = F.md5("text")
    return d.select(
        "doc_id",
        "lang",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            _dim_from_md5(m, 1).alias("width"),
            _dim_from_md5(m, 3).alias("height"),
        ).alias("meta"),
    )


_BINARY_STATS_ORACLE = """
SELECT lang,
       count(*) AS n,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       min(octet_length(encode(text)))                 AS min_bytes,
       max(octet_length(encode(text)))                 AS max_bytes,
       count(DISTINCT sha256(text))                    AS n_unique_payloads
FROM documents
GROUP BY lang
"""


@register("mm_binary_stats", oracle=_BINARY_STATS_ORACLE, tier="T3")
def mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column accounting per lang: byte sizes + distinct payload
    digests — the storage-audit query run before any decode pass.  All
    JVM-side (encode/length/sha2 are Column functions)."""
    m = documents_as_media(spark, sf_dir)
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("payload")).cast("long").alias("total_bytes"),
        F.min(F.length("payload")).alias("min_bytes"),
        F.max(F.length("payload")).alias("max_bytes"),
        F.countDistinct(F.sha2("payload", 256)).alias("n_unique_payloads"),
    )


def _decode_payload(payload: bytes, width: int, height: int):
    """Decode a media payload to a pixel array.

    STUB: real codecs (PIL / libvips / ffmpeg) are not available in this
    environment.  A production deployment replaces the fallback with the
    real import; the fallback is a deterministic fake that tiles the
    payload bytes into a (height, width) "pixel" grid so the downstream
    feature math is fully exercised (and, being deterministic, SQL-
    verifiable)."""
    import numpy as np

    try:  # pragma: no cover - codec not present in this container
        import PIL.Image  # noqa: F401

        raise NotImplementedError(
            "real image decode is intentionally not wired up in this "
            "environment; replace _decode_payload's fallback when codecs "
            "are available"
        )
    except ImportError:
        pass
    buf = np.frombuffer(payload, dtype=np.uint8)
    if len(buf) == 0:
        # empty payload decodes to an all-zero canvas (np.tile of an
        # empty buffer stays empty and the reshape crashes — degenerate-
        # corpus sweep, round 6); the oracle's greatest(n, 1) tiling
        # yields ascii('') = 0 pixels, the same canvas.
        buf = np.zeros(1, dtype=np.uint8)
    need = width * height
    reps = -(-need // len(buf))
    return np.tile(buf, reps)[:need].reshape(height, width)


# The oracle replays the fallback decode in SQL: dims from md5 hex
# chars, pixel j (0-based, row-major) = ascii byte at position j mod
# len(text), features from exact integer moments.  The float math is the
# LITERAL same expression the UDF evaluates, on identical integer
# operands — ROUND is applied to bit-identical doubles on both sides.

def _hex_byte_sql(pos: str) -> str:
    """SQL for the byte value at 0-based byte offset ``pos`` of the
    lowercase-hex column ``hx`` (2 chars per byte).  ONE definition so
    the decode/audio oracles can never drift apart (round-6 review:
    four hand-maintained copies must stay byte-identical for parity)."""
    c1 = f"substr(hx, {pos} * 2 + 1, 1)"
    c2 = f"substr(hx, {pos} * 2 + 2, 1)"
    return (
        f"(ascii({c1}) - CASE WHEN {c1} <= '9' THEN 48 ELSE 87 END) * 16 "
        f"+ (ascii({c2}) - CASE WHEN {c2} <= '9' THEN 48 ELSE 87 END)"
    )


_DECODE_ORACLE = f"""
WITH dims AS (
  -- NULL payload contract (round 9, class 2): a NULL document has no
  -- media object — nothing to decode on either engine.  Duplicate-key
  -- contract (round 10, class 1): one payload per doc_id.
  SELECT doc_id, lower(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n, md5(text) AS m
  FROM {winner_document_sql()} documents
  WHERE text IS NOT NULL
), sized AS (
  SELECT doc_id, hx, n,
         ((ascii(substr(m, 1, 1)) * 256 + ascii(substr(m, 2, 1))) % 64 + 16) AS width,
         ((ascii(substr(m, 3, 1)) * 256 + ascii(substr(m, 4, 1))) % 64 + 16) AS height
  FROM dims
), pos AS (
  SELECT doc_id, width, height, n, hx, j,
         CAST(j % greatest(n, 1) AS INT) AS p0,
         CAST((j + 1) % greatest(n, 1) AS INT) AS p1
  FROM sized, LATERAL (
    SELECT unnest(generate_series(0, width * height - 1)) AS j
  )
), px AS (
  -- pixel = payload BYTE (UTF-8), decoded from the lowercase-hex lane:
  -- ascii() returns the CODEPOINT, which diverges from the byte-tiling
  -- kernel on any multi-byte char (degenerate-corpus sweep, round 6)
  SELECT doc_id, width, height, n, j,
         CASE WHEN n = 0 THEN 0 ELSE {_hex_byte_sql('p0')} END AS b,
         CASE WHEN j % width <> width - 1 THEN
           CASE WHEN n = 0 THEN 0 ELSE {_hex_byte_sql('p1')} END
         END AS b_next
  FROM pos
), mo AS (
  SELECT doc_id, width, height,
         width * height      AS need,
         sum(b)              AS s,
         sum(b * b)          AS ss,
         sum(abs(b_next - b)) AS ed,
         count(b_next)        AS n_ed
  FROM px GROUP BY doc_id, width, height
)
SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       floor(s / need * 1000000 + 0.5) / 1000000.0 AS brightness,
       floor(sqrt((ss - s * s / need) / need) * 1000000 + 0.5) / 1000000.0
         AS contrast,
       floor(ed / n_ed * 1000000 + 0.5) / 1000000.0 AS edges
FROM mo
"""


@register("mm_decode_features", oracle=_DECODE_ORACLE, tier="T3")
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → feature-extract over Arrow batches (mapInPandas): per
    doc, 'image' brightness (mean), contrast (population std) and edge
    proxy (mean abs horizontal diff) from the decoded pixel grid.

    The UDF accumulates EXACT INTEGER moments (sum, sum-of-squares,
    abs-diff sum — all < 2^53) and emits the raw double expressions;
    rounding happens JVM-side so both engines round the same bits."""
    # NULL payload = no media object (round 9): bytes(None) would crash
    # the kernel; the oracle mirrors with text IS NOT NULL.
    # dedup_keys (round 10): per-doc moments are key-grained — one
    # payload per doc_id, deterministic winner, oracle-mirrored.
    m = documents_as_media(spark, sf_dir, dedup_keys=True).filter(
        F.col("payload").isNotNull()
    )
    schema = (
        "doc_id long, width int, height int, "
        "brightness double, contrast double, edges double"
    )

    def extract(batches):
        import math

        for pdf in batches:
            out = []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["meta"]):
                w, h = int(meta["width"]), int(meta["height"])
                px = _decode_payload(bytes(payload), w, h).astype("int64")
                need = w * h
                s = int(px.sum())
                ss = int((px * px).sum())
                import numpy as np

                diffs = np.abs(np.diff(px, axis=1))
                ed = int(diffs.sum())
                n_ed = h * (w - 1)
                out.append(
                    (
                        doc_id,
                        w,
                        h,
                        s / need,
                        math.sqrt((ss - s * s / need) / need),
                        ed / n_ed,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "width", "height", "brightness", "contrast", "edges"],
            )

    raw = m.mapInPandas(extract, schema)

    # 6dp rounding via explicit floor(x·1e6 + 0.5)/1e6 on BOTH engines:
    # engine-native ROUND disagrees when the double sits on a .5 grid
    # boundary (Spark rounds the exact binary value via BigDecimal,
    # DuckDB multiplies-then-std::rounds — caught at sf0.1 where
    # edges = 33.33906249…e0 split 33.339062 vs 33.339063).  The explicit
    # form is the same IEEE mul/add/floor/div on bit-identical inputs,
    # so both engines produce the same rounded double by construction.
    def _r6(col: str) -> F.Column:
        return (F.floor(F.col(col) * 1000000 + F.lit(0.5)) / F.lit(1000000.0)).alias(col)

    return raw.select(
        "doc_id",
        "width",
        "height",
        _r6("brightness"),
        _r6("contrast"),
        _r6("edges"),
    )


# Frame sampling replayed in SQL: ASCII text ⇒ substr == byte slice, and
# DuckDB md5(varchar) hashes the same utf-8 bytes Python's md5 sees.
# Frames are sliced from the lowercase-HEX rendering of the payload
# BYTES (2 hex chars per byte): DuckDB cannot substring/md5 a BLOB, and
# slicing the raw text diverges from the byte-sliced kernel the moment a
# document contains a multi-byte UTF-8 char (char count != byte count —
# caught by the round-6 degenerate-corpus sweep).  The hex lane is
# byte-exact on both engines for any text.
_FRAME_ORACLE = """
WITH sized AS (
  -- NULL payload = no media object (round 9) — no frames to sample
  SELECT doc_id, lower(hex(encode(text))) AS hx,
         greatest(octet_length(encode(text)) // 64, 1) AS n_frames
  FROM documents
  WHERE text IS NOT NULL
), frames AS (
  SELECT doc_id,
         CAST(idx AS INT) AS frame_idx,
         substr(hx, CAST(idx AS INT) * 128 + 1, 128) AS chunk
  FROM sized, LATERAL (
    SELECT unnest(generate_series(0, CAST(n_frames AS INT) - 1, 4)) AS idx
  )
)
SELECT doc_id, frame_idx,
       CAST(length(chunk) // 2 AS INT) AS frame_bytes,
       md5(chunk) AS frame_hex_md5
FROM frames
"""


@register("mm_frame_sample", oracle=_FRAME_ORACLE, tier="T3")
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Video' frame sampling: split each payload into fixed 64-byte
    frames and keep every 4th — the strided-decode pattern for video
    corpora (bounded output per input row).  Emits one row per sampled
    frame with its digest.  mapInPandas over the binary column.

    Digest semantics (ADVICE r06): the column is named ``frame_hex_md5``
    because it digests the frame's LOWERCASE-HEX rendering, not the raw
    bytes — DuckDB 1.0 has no blob-capable md5 (``md5(BLOB)`` is a
    binder error, verified), so the raw-byte digest cannot be oracle-
    matched.  Hex is a bijective byte encoding, so equal ``frame_hex_md5``
    ⇔ equal raw frames and the digest still identifies frame content
    deterministically; a production pipeline that needs the raw-byte
    md5 applies ``md5(unhex(...))`` over the same lane."""
    m = documents_as_media(spark, sf_dir)
    FRAME = 64
    STRIDE = 4

    def sample(batches):
        import hashlib

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                hx = b.hex()  # lowercase, 2 chars/byte — the shared lane
                n_frames = max(len(b) // FRAME, 1)
                for idx in range(0, n_frames, STRIDE):
                    chunk = hx[idx * FRAME * 2 : (idx + 1) * FRAME * 2]
                    rows.append(
                        (
                            doc_id,
                            idx,
                            len(chunk) // 2,
                            hashlib.md5(chunk.encode("ascii")).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_bytes", "frame_hex_md5"]
            )

    return (
        m.filter(F.col("payload").isNotNull())  # no payload → no frames
        .select("doc_id", "payload")
        .mapInPandas(
            sample,
            "doc_id long, frame_idx int, frame_bytes int, frame_hex_md5 string",
        )
    )


# ---------------------------------------------------------------------------
# 'Audio' PCM window features
# ---------------------------------------------------------------------------

AUDIO_WIN = 128  # samples per analysis window
AUDIO_N_WIN = 4  # fixed windows per payload (tiled like _decode_payload)
AUDIO_DC = 80  # fixed DC offset removed from each 8-bit sample

# The oracle replays the fake PCM decode: sample j = ascii byte at
# position j mod len(text), minus the DC constant; all window moments
# are exact-integer sums, so the only doubles are the final divisions —
# identical IEEE expressions on identical operands in both engines.
_AUDIO_ORACLE = f"""
WITH sized AS (
  -- NULL payload = no media object (round 9) — no PCM to window.
  -- Duplicate-key contract (round 10, class 1): one payload per doc_id
  -- (a re-crawled id doubled the window grid: 2288 vs 2000 windows).
  SELECT doc_id, lower(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM {winner_document_sql()} documents
  WHERE text IS NOT NULL
), pos AS (
  SELECT doc_id, hx, n, j,
         CAST(j % greatest(n, 1) AS INT) AS p0,
         CAST((j + 1) % greatest(n, 1) AS INT) AS p1
  FROM sized, LATERAL (
    SELECT unnest(generate_series(0, {AUDIO_WIN * AUDIO_N_WIN - 1})) AS j
  )
), samples AS (
  -- sample = payload BYTE from the hex lane (ascii() is the codepoint,
  -- wrong for multi-byte UTF-8 — degenerate-corpus sweep, round 6)
  SELECT doc_id,
         CAST(j // {AUDIO_WIN} AS INT) AS win,
         j % {AUDIO_WIN} AS pos,
         CASE WHEN n = 0 THEN 0 ELSE {_hex_byte_sql('p0')} END
           - {AUDIO_DC} AS v,
         CASE WHEN j % {AUDIO_WIN} <> {AUDIO_WIN - 1} THEN
           CASE WHEN n = 0 THEN 0 ELSE {_hex_byte_sql('p1')} END
             - {AUDIO_DC}
         END AS v_next
  FROM pos
)
SELECT doc_id, win,
       ROUND(sqrt(sum(v * v) / {AUDIO_WIN}.0), 6)            AS rms,
       CAST(max(abs(v)) AS INT)                              AS peak,
       CAST(sum(CASE WHEN v * v_next < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS zero_crossings
FROM samples
GROUP BY doc_id, win
ORDER BY doc_id, win
"""


@register("mm_audio_windows", oracle=_AUDIO_ORACLE, tier="T3")
def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Audio' windowed signal features over the binary payload treated
    as 8-bit PCM: per {AUDIO_WIN}-sample window — RMS energy, peak
    amplitude, zero-crossing count (the silence/clipping/voicedness
    triage every audio ingest runs before expensive transcription).
    Same stub seam as mm_decode_features: a real deployment decodes
    with ffmpeg/soundfile; here the deterministic fallback tiles the
    payload bytes (sample j = byte j mod len), so the Spark-side
    plumbing — binary column in, fixed {AUDIO_N_WIN} rows per doc out
    of an Arrow-batched mapInPandas — is fully real and the feature
    math SQL-replays exactly.  The UDF accumulates integer moments
    only; rounding happens JVM-side (ROUND_NOTES float policy).
    dedup_keys (round 10): the window grid is key-grained — one payload
    per doc_id, deterministic winner, oracle-mirrored."""
    import numpy as np

    m = documents_as_media(spark, sf_dir, dedup_keys=True)
    schema = "doc_id long, win int, rms_raw double, peak int, zero_crossings long"

    def extract(batches):
        import math

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8).astype("int64")
                if len(buf) == 0:
                    # empty payload = silence (all-zero PCM); np.tile of
                    # an empty buffer stays empty and the reshape crashes
                    # (degenerate-corpus sweep, round 6).  Mirrors the
                    # oracle's greatest(n, 1) tiling.
                    buf = np.zeros(1, dtype="int64")
                need = AUDIO_WIN * AUDIO_N_WIN
                reps = -(-need // len(buf))
                v = (np.tile(buf, reps)[:need] - AUDIO_DC).reshape(
                    AUDIO_N_WIN, AUDIO_WIN
                )
                for w in range(AUDIO_N_WIN):
                    row = v[w]
                    ss = int((row * row).sum())
                    peak = int(np.abs(row).max())
                    zc = int(((row[:-1] * row[1:]) < 0).sum())
                    out.append((doc_id, w, math.sqrt(ss / AUDIO_WIN), peak, zc))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "win", "rms_raw", "peak", "zero_crossings"],
            )

    raw = (
        m.filter(F.col("payload").isNotNull())  # no payload → no windows
        .select("doc_id", "payload")
        .mapInPandas(extract, schema)
    )
    return raw.select(
        "doc_id",
        "win",
        F.round("rms_raw", 6).alias("rms"),
        "peak",
        "zero_crossings",
    ).orderBy("doc_id", "win")


# ---------------------------------------------------------------------------
# Content-sniffing modality router (magic bytes, not labels)
# ---------------------------------------------------------------------------

# (claimed extension, magic hex prefix) per synthetic modality; the WAV
# RIFF header and the PNG/JPEG signatures are the real public magics.
_MAGICS = {
    0: ("png", "89504E470D0A1A0A"),
    1: ("jpg", "FFD8FFE0"),
    2: ("wav", "52494646"),
}

_ROUTER_ORACLE = """
WITH framed AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN unhex('89504E470D0A1A0A') WHEN 1 THEN unhex('FFD8FFE0')
           ELSE unhex('52494646') END || encode(text) AS payload
  FROM documents
), sniffed AS (
  SELECT doc_id, octet_length(payload) AS nbytes,
         CASE
           WHEN substr(hex(payload), 1, 16) = '89504E470D0A1A0A' THEN 'image/png'
           WHEN substr(hex(payload), 1, 8)  = 'FFD8FFE0'         THEN 'image/jpeg'
           WHEN substr(hex(payload), 1, 8)  = '52494646'         THEN 'audio/wav'
           ELSE 'application/octet-stream' END AS mime
  FROM framed
)
SELECT mime, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(nbytes) AS BIGINT) AS total_bytes,
       CAST(min(doc_id) AS BIGINT) AS sample_doc
FROM sniffed GROUP BY mime
"""


@register("mm_magic_byte_routing", oracle=_ROUTER_ORACLE, tier="T3")
def mm_magic_byte_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality routing by CONTENT SNIFFING: detect each payload's type
    from its real magic-byte signature (PNG \\x89PNG\\r\\n\\x1a\\n, JPEG
    FFD8FFE0, RIFF/WAV), never from a claimed extension or metadata
    column — the first stage of any mixed-modality ingest, because at
    100 TB of crawled data the labels lie.  The fixture frames each
    document's UTF-8 bytes behind a deterministic real magic header
    (doc_id mod 3), and the router must recover the exact per-type
    counts from the bytes alone.

    Sniffing is a fixed-width prefix compare on hex(payload) — a pure
    column expression that fuses into the scan; the route grain (mime
    types) bounds the aggregate.  Downstream, each route feeds the
    matching decoder (mm_decode_features / mm_audio_windows)."""
    d = load_table(spark, sf_dir, "documents")
    magic = (
        F.when(F.col("doc_id") % 3 == 0, F.unhex(F.lit(_MAGICS[0][1])))
        .when(F.col("doc_id") % 3 == 1, F.unhex(F.lit(_MAGICS[1][1])))
        .otherwise(F.unhex(F.lit(_MAGICS[2][1])))
    )
    framed = d.select(
        "doc_id",
        F.concat(magic, F.encode("text", "utf-8")).alias("payload"),
    )
    h = F.hex("payload")
    mime = (
        F.when(F.substring(h, 1, 16) == "89504E470D0A1A0A", F.lit("image/png"))
        .when(F.substring(h, 1, 8) == "FFD8FFE0", F.lit("image/jpeg"))
        .when(F.substring(h, 1, 8) == "52494646", F.lit("audio/wav"))
        .otherwise(F.lit("application/octet-stream"))
    )
    return (
        framed.select("doc_id", F.length("payload").alias("nbytes"), mime.alias("mime"))
        .groupBy("mime")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("nbytes").cast("long").alias("total_bytes"),
            F.min("doc_id").alias("sample_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Perceptual-hash (dHash) near-duplicate detection over decoded media
# ---------------------------------------------------------------------------

# dHash grid: the payload bytes tile a fixed 72x64 virtual canvas
# (content-INDEPENDENT dims, unlike mm_decode_features' per-doc md5
# dims — a resize normalizes real images the same way), and the hash
# compares horizontally adjacent probes on a 9x8 sample grid.  Probe
# (r, c) sits at canvas offset 576*r + 8*c, precomputed below as
# integer LITERALS so both engine texts share the exact arithmetic.
_PH_W, _PH_H = 72, 64
_PH_HAM_MAX = 10


def _ph_px(pos: int) -> str:
    """Pixel probe: payload byte at canvas offset ``pos`` under tiling —
    ascii of the text char at (pos mod len).  Engine-shared SQL.
    Tiles over greatest(length, 1): a bare ``% length(text)`` is a
    division-by-zero error on an empty-text document in BOTH engines
    (ANSI Spark throws, DuckDB errors) — no empty docs exist in the
    shipped corpora, but a real corpus has them; substr past the end
    then yields '' and ascii('') = 0 on both engines, a stable pixel."""
    return (
        f"ascii(substr(text, "
        f"CAST({pos} % greatest(length(text), 1) AS INT) + 1, 1))"
    )


def _ph_band(i: int) -> str:
    """16-bit band ``i`` of the 64-bit dHash as one integer expression."""
    terms = []
    for k in range(16):
        t = i * 16 + k
        r, c = divmod(t, 8)
        pa = _ph_px((_PH_H // 8) * r * _PH_W + (_PH_W // 9) * c)
        pb = _ph_px((_PH_H // 8) * r * _PH_W + (_PH_W // 9) * (c + 1))
        terms.append(f"(CASE WHEN {pb} > {pa} THEN {1 << k} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def _ph_sql(xor: str, intdiv: str) -> str:
    """The full band-profile query; ``xor``/``intdiv`` are the only
    engine-specific spellings (DuckDB xor(a,b) + //, Spark ^ + DIV)."""
    bands = ",\n       ".join(f"{_ph_band(i)} AS b{i}" for i in range(4))
    blocks = [f"WITH ph AS (\n  SELECT doc_id,\n       {bands}\n  FROM {{tbl}}\n)"]
    rows = []
    for i in range(4):
        if xor == "^":
            ham = " + ".join(f"bit_count(a.b{j} ^ b.b{j})" for j in range(4))
        else:
            ham = " + ".join(f"bit_count({xor}(a.b{j}, b.b{j}))" for j in range(4))
        blocks.append(
            f""",
bs{i} AS (SELECT b{i} AS bv, count(*) AS c FROM ph GROUP BY 1),
st{i} AS (
  SELECT CAST(count(*) AS BIGINT)  AS n_buckets,
         CAST(max(c) AS BIGINT)    AS max_bucket,
         CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
                                   AS n_collision_docs,
         CAST(sum(c * (c - 1)) {intdiv} 2 AS BIGINT) AS n_cand_pairs
  FROM bs{i}
),
np{i} AS (
  SELECT CAST(count(CASE WHEN {ham} <= {_PH_HAM_MAX} THEN 1 END) AS BIGINT)
           AS n_near_pairs
  FROM ph a JOIN ph b ON a.b{i} = b.b{i} AND a.doc_id < b.doc_id
)"""
        )
        rows.append(
            f"SELECT {i} AS band, n_buckets, max_bucket, n_collision_docs,"
            f" n_cand_pairs, n_near_pairs FROM st{i}, np{i}"
        )
    blocks.append("\n" + "\nUNION ALL\n".join(rows) + "\nORDER BY band")
    return "".join(blocks)


_PHASH_ORACLE = _ph_sql(xor="xor", intdiv="//").format(tbl="documents")


@register("mm_phash_dedup", oracle=_PHASH_ORACLE, tier="T3")
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate profile for the media corpus: a
    64-bit dHash per payload (brightness-gradient signs on a fixed
    9x8 probe grid over the tiled canvas), banded LSH-style into four
    16-bit keys, then per band the bucket-collision profile plus the
    count of candidate pairs within Hamming distance 10 of
    the full hash — the image-dedup pipeline (pHash/dHash banding)
    with the decode stage replayed on the deterministic stub, so the
    whole flow is SQL-verifiable (the mm_decode_features contract).

    Scale shape: the hash is pure column arithmetic fused into the
    scan (no UDF, no decode shuffle); each band pass is an equi-join
    on a 16-bit key — the same sub-quadratic banding as
    llm_dedup_simhash, never an all-pairs compare.  Output is 4 rows
    regardless of corpus size.  The band table feeds 4 joins with
    DIFFERENT keys, so it is checkpointed once (the simhash
    materialization rule: distinct consumer subtrees cannot share a
    ReusedExchange)."""
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).createOrReplaceTempView("phash_docs")
    sql = _ph_sql(xor="^", intdiv="DIV").format(tbl="phash_docs")
    head, rest = sql.split("\n)", 1)
    ph = spark.sql(head + "\n)\nSELECT * FROM ph").transform(ckpt(eager=True))
    ph.createOrReplaceTempView("phash_bands")
    return spark.sql("WITH ph AS (SELECT * FROM phash_bands)" + rest)
