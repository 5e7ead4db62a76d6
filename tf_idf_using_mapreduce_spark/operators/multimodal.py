"""Multimodal column plumbing (SURVEY.md §7.2 extension): image/audio/video as
opaque ``binary`` payloads with typed metadata, decoded/feature-extracted via
Arrow-batched ``mapInPandas``.

DECODE is format-sniffed (round 12): REAL containers parse with the stdlib —
grayscale PNG (``zlib`` + the RFC 2083 filters), RIFF/WAVE PCM (``wave``),
multi-frame GIF (an LZW decoder per the GIF89a spec) — so every modality's
near-dup pipeline is demonstrated end-to-end on genuine re-encoded/edited
media in tests/test_multimodal.py. Payloads that aren't a known container
take the deterministic letters-bytes stub, which is what every ORACLED query
sees (the pure-[a-z] payload convention can never carry a container magic),
so DuckDB recomputes those paths bit-exactly. A production deployment swaps
richer decoders (PIL, torchaudio, PyAV) behind the same sniff point; nothing
Spark-side — schema contracts, binary casting, Arrow batch shapes,
partitioning, banding — moves.

The fixture set has no binary table; payloads are synthesized from
``documents.text`` (utf-8 bytes), which keeps the oracle checkable: byte
lengths and hashes of the payload are computable by DuckDB on the same rows.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.text import TOKENS
from tf_idf_using_mapreduce_spark.operators import dedup as dd
from tf_idf_using_mapreduce_spark.sources.corpus import load_table, spread

N_FAKE_FEATURES = 4


def with_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary, n_bytes): the opaque-binary column contract."""
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.expr("octet_length(text)").alias("n_bytes"),
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bytes, payload_md5, modality): typed metadata over the
    binary payload — the catalog-facing face of a multimodal table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = with_payload(docs)
    return payloads.select(
        "doc_id",
        "n_bytes",
        F.md5("payload").alias("payload_md5"),
        # deterministic synthetic modality tag (stands in for magic-byte sniffing)
        F.expr("CASE WHEN n_bytes % 3 = 0 THEN 'image' WHEN n_bytes % 3 = 1 THEN 'audio' ELSE 'video' END").alias("modality"),
    )


MULTIMODAL_META_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS payload_md5,
       CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'image'
            WHEN octet_length(encode(text)) % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality
FROM documents
"""


# --------------------------------------------------------------------------- #
# REAL container decode (stdlib-only): the "swap the stub" demonstration.
#
# The decode seam was designed so a real decoder drops in without moving any
# Spark-side plumbing. These two decoders prove it with PUBLIC formats the
# stdlib can parse — RIFF/WAVE PCM (`wave`) and PNG grayscale scanlines
# (`zlib` + the RFC 2083 filter algebra) — no new dependencies. Payloads that
# sniff as a real container decode for real; everything else falls through to
# the deterministic letters-bytes stub, which keeps every ORACLED query
# byte-identical (the oracled payload convention is pure [a-z] bytes, which
# can never carry a RIFF/PNG magic). tests/test_multimodal.py pushes a real
# WAV and a re-encoded PNG through the same mapInPandas seams and near-dups
# them.
# --------------------------------------------------------------------------- #

def _wav_signal(payload: bytes):
    """8-bit signal stream of a RIFF/WAVE PCM payload (first channel, int16
    or uint8 samples mapped to 0..255), or ``None`` when the payload is not
    a parseable WAV. The fingerprinter consumes sign-of-first-difference, so
    8-bit amplitude resolution preserves exactly what it measures."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            nch, sw = w.getnchannels(), w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except (wave.Error, EOFError, ValueError, struct.error):
        return None
    if sw == 2:
        a = np.frombuffer(raw[: len(raw) // 2 * 2], dtype="<i2").astype(np.int64)
        a = (a + 32768) >> 8
    elif sw == 1:
        a = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
    else:
        return None
    if nch > 1:
        a = a[: len(a) // nch * nch].reshape(-1, nch)[:, 0]
    return bytes(a.astype(np.uint8))


def _png_gray(payload: bytes):
    """(pixels, width, height) of an 8-bit grayscale PNG — stdlib zlib
    inflate + the five RFC 2083 scanline filters — or ``None`` when the
    payload is not a parseable grayscale PNG. Reference implementation (pure
    Python per-pixel unfilter): correctness-first, used at fixture scale; a
    hot path would swap in PIL through this same seam."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    import zlib

    try:
        pos, width, height, idat = 8, None, None, b""
        while pos + 8 <= len(payload):
            (ln,) = struct.unpack(">I", payload[pos:pos + 4])
            typ = payload[pos + 4:pos + 8]
            data = payload[pos + 8:pos + 8 + ln]
            if typ == b"IHDR":
                width, height, bit_depth, color_type = struct.unpack(">IIBB", data[:10])
                if bit_depth != 8 or color_type != 0:
                    return None  # only 8-bit grayscale is in scope
                if len(data) >= 13 and data[12] != 0:
                    return None  # Adam7 interlacing out of scope (explicit,
                    # not the coincidental decompressed-length mismatch)
                if width == 0 or height == 0:
                    return None  # degenerate 0-dim image: undecodable
            elif typ == b"IDAT":
                idat += data
            elif typ == b"IEND":
                break
            pos += 12 + ln
        if width is None or not idat:
            return None
        raw = zlib.decompress(idat)
        if len(raw) != (width + 1) * height:
            return None
        out = bytearray()
        prev = bytes(width)
        for y in range(height):
            ft = raw[y * (width + 1)]
            line = bytearray(raw[y * (width + 1) + 1:(y + 1) * (width + 1)])
            if ft == 1:    # Sub
                for x in range(1, width):
                    line[x] = (line[x] + line[x - 1]) & 0xFF
            elif ft == 2:  # Up
                for x in range(width):
                    line[x] = (line[x] + prev[x]) & 0xFF
            elif ft == 3:  # Average
                for x in range(width):
                    left = line[x - 1] if x else 0
                    line[x] = (line[x] + (left + prev[x]) // 2) & 0xFF
            elif ft == 4:  # Paeth
                for x in range(width):
                    a = line[x - 1] if x else 0
                    b = prev[x]
                    c = prev[x - 1] if x else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[x] = (line[x] + pr) & 0xFF
            elif ft != 0:  # 0 = None
                return None
            out += line
            prev = bytes(line)
        return bytes(out), width, height
    except (zlib.error, struct.error, IndexError, ValueError):
        return None


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW (GIF89a spec appendix F): variable code width from
    ``min_code_size + 1`` bits, CLEAR resets the table, codes packed
    LSB-first. Reference implementation — correctness-first, fixture
    scale."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width, next_code
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        next_code = eoi + 1

    width = min_code_size + 1
    next_code = eoi + 1
    reset()
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                reset()
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("bad LZW code")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return bytes(out)


def _gif_gray_frames(payload: bytes):
    """Per-frame 8-bit grayscale pixel buffers of a GIF87a/89a payload —
    stdlib-only (the LZW decoder above), or ``None`` when the payload is not
    a parseable GIF. Scope: non-interlaced full-screen frames (each image
    descriptor covers the whole logical screen) — the shape the test
    fixtures synthesize; anything else returns ``None`` rather than decode
    wrongly. Gray = integer ITU-R 601 luma of the palette color."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    try:
        width, height = struct.unpack("<HH", payload[6:10])
        if width == 0 or height == 0:
            return None  # degenerate 0-dim screen: undecodable
        flags = payload[10]
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            gct = payload[pos:pos + 3 * n]
            pos += 3 * n
        frames = []
        while pos < len(payload):
            b0 = payload[pos]
            if b0 == 0x3B:  # trailer
                break
            if b0 == 0x21:  # extension: label + sub-blocks
                pos += 2
                while payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
                continue
            if b0 != 0x2C:  # not an image descriptor
                return None
            left, top, w, h = struct.unpack("<HHHH", payload[pos + 1:pos + 9])
            iflags = payload[pos + 9]
            pos += 10
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                pal = payload[pos:pos + 3 * n]
                pos += 3 * n
            if (left, top, w, h) != (0, 0, width, height) or iflags & 0x40 or pal is None:
                return None  # offset/interlaced frames out of scope
            min_code_size = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _gif_lzw_decode(bytes(data), min_code_size)[: w * h]
            if len(idx) < w * h:
                return None
            luma = bytes(
                (pal[3 * i] * 299 + pal[3 * i + 1] * 587 + pal[3 * i + 2] * 114) // 1000
                for i in range(len(pal) // 3)
            )
            frames.append(bytes(luma[i] for i in idx))
        return frames or None
    except (struct.error, IndexError, ValueError):
        return None


def _decode_payload(payload: bytes) -> tuple[int, int, list[float], tuple[int, ...]]:
    """Payload decoder behind the feature seam. A REAL grayscale PNG decodes
    with the stdlib (true dimensions + features over the decoded pixels);
    anything else takes the deterministic text-bytes STUB (md5-derived
    pseudo-features) that keeps the query oracle-checkable.

    ONLY the PNG sniff is safe here, and deliberately so: this function's
    oracled consumers (``multimodal_features``/``multimodal_feature_vectors``)
    feed RAW document text as the payload, and the PNG magic's lead byte
    0x89 is a UTF-8 continuation byte — impossible as the first byte of any
    valid UTF-8 string — so no text row can ever take the real path. A
    RIFF/WAVE container, by contrast, is expressible as valid UTF-8 (ASCII
    magics + NUL bytes), so a WAV sniff here could silently desynchronize a
    dirty-lake text row from the oracle's unconditional stub (r12
    self-review); real audio flows through :func:`_audio_fingerprints`,
    whose letters-only oracled payloads are immune.

    Returns (width, height, float features, raw uint32 feature words). The
    raw words are the exact-integer form the registry-facing query exposes so
    the result is both hashable and recomputable by the DuckDB oracle.
    """
    png = _png_gray(payload)
    if png is not None:
        pixels, width, height = png
        raw = struct.unpack(">4I", hashlib.md5(pixels).digest())
        return width, height, [x / 2**31 - 1.0 for x in raw], raw
    digest = hashlib.md5(payload).digest()
    width = 32 + digest[0] % 224          # fake dimensions
    height = 32 + digest[1] % 224
    raw = struct.unpack(">4I", digest[:16])
    feats = [x / 2**31 - 1.0 for x in raw]
    return width, height, feats, raw


def multimodal_feature_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, width, height, features array<float>): the library-facing
    API — Arrow-batched decode + feature extraction via ``mapInPandas``."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = with_payload(docs).select("doc_id", "payload")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # a NULL payload (e.g. NULL source text) cannot be decoded:
            # emit NULL features, keep the row — both engines' rule
            decoded = [None if p is None else _decode_payload(bytes(p))
                       for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "width": [None if d is None else d[0] for d in decoded],
                    "height": [None if d is None else d[1] for d in decoded],
                    "features": [None if d is None else d[2] for d in decoded],
                }
            )

    return payloads.mapInPandas(
        decode, "doc_id long, width int, height int, features array<float>"
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, width, height, feat_sig): registry-facing twin of
    :func:`multimodal_feature_vectors` — same ``mapInPandas`` decode, but the
    feature vector is exposed as its exact-integer uint32 words joined with
    commas. That keeps every column hashable (the driver's canonicalizer
    chokes on array columns) and lets DuckDB recompute the identical values
    from the md5 hex string, so this query is fully oracle-checked instead of
    rows-only."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = with_payload(docs).select("doc_id", "payload")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload → NULL features, row kept (see
            # multimodal_feature_vectors; the oracle's CASE mirrors this)
            decoded = [None if p is None else _decode_payload(bytes(p))
                       for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "width": [None if d is None else d[0] for d in decoded],
                    "height": [None if d is None else d[1] for d in decoded],
                    "feat_sig": [None if d is None
                                 else ",".join(str(u) for u in d[3])
                                 for d in decoded],
                }
            )

    return payloads.mapInPandas(
        decode, "doc_id long, width int, height int, feat_sig string"
    )


# DuckDB recomputes the stub decode from md5(text)'s hex digits:
# byte i of the digest is CAST('0x' || substr(hex, 2i+1, 2) AS INTEGER), and
# each big-endian uint32 word is an 8-hex-digit slice.
# the CASE mirrors the engine's NULL-payload rule (NULL text → NULL
# features, row kept): without it, concat_ws over four NULL words yields ''
# while the arithmetic columns yield NULL — a mixed row no engine produces
MULTIMODAL_FEATURES_ORACLE = """
WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
SELECT doc_id,
       32 + CAST(('0x' || substr(hx, 1, 2)) AS INTEGER) % 224 AS width,
       32 + CAST(('0x' || substr(hx, 3, 2)) AS INTEGER) % 224 AS height,
       CASE WHEN hx IS NULL THEN NULL ELSE
         concat_ws(',',
                   CAST(('0x' || substr(hx, 1, 8)) AS BIGINT),
                   CAST(('0x' || substr(hx, 9, 8)) AS BIGINT),
                   CAST(('0x' || substr(hx, 17, 8)) AS BIGINT),
                   CAST(('0x' || substr(hx, 25, 8)) AS BIGINT)) END AS feat_sig
FROM h
"""


# --------------------------------------------------------------------------- #
# image near-dup: perceptual hash (aHash) + hamming-banded candidate pairs
# --------------------------------------------------------------------------- #

# pixels in the fake decoded luma grid — the classic 8x8 aHash raster
PHASH_PIXELS = 64
# minimum decodable payload: below one byte per pixel there is no grid
PHASH_MIN_BYTES = PHASH_PIXELS
# near-dup bar: same pigeonhole guarantee as dedup_simhash (4 x 16-bit bands
# find every pair within hamming 3 via >= 1 exact band)
PHASH_HAMMING_THRESHOLD = 3
PHASH_BANDS = 4


def _phash64(payload: bytes) -> tuple[int, int] | None:
    """Perceptual hash (aHash) over the payload's luma sequence. A REAL
    grayscale PNG payload decodes with the stdlib (:func:`_png_gray`) and
    hashes its actual pixels — the "swap the stub" path, exercised by
    tests/test_multimodal.py near-dupping a re-encoded PNG. Anything else
    takes the STUB luma sequence: the payload's raw byte values (the
    container has no PIL; the oracled payload convention is pure [a-z]
    bytes, which can never sniff as PNG, so oracle parity is untouched).
    Both paths preserve the property a perceptual hash needs and an
    md5-derived fake destroys: NEARBY payloads produce NEARBY grids (a
    re-encode that perturbs a few bytes flips a few grid cells, not all
    64).

    Grid cell j averages byte slice [j*n//64, (j+1)*n//64); bit j is set
    iff cell mean > whole-payload mean, compared exactly via integer
    cross-multiplication (sum_j * n > total * size_j — no float). Returns
    (hi, lo) 32-bit halves, the engine-wide two-half sketch layout, so the
    SimHash banding/hamming machinery applies unchanged.

    Numpy-vectorized (frombuffer + reduceat) because this IS the hot decode
    path — the audio/video stubs in this file made the same call for the
    same reason; all arithmetic stays exact int64 (max sum·n ≈ 255·n², safe
    to n ~ 10^8 bytes), so the scalar spec above is computed bit-for-bit.

    Returns ``None`` when the luma sequence is shorter than the 64-cell
    grid (a sub-64-pixel real image, or a sub-64-byte raw payload on the
    real-binary path): there is no grid, and ``reduceat`` over repeated
    slice starts would manufacture phantom cell sums (near-all-ones garbage
    hashes that band-collide every tiny image with every other — r12
    self-review). The ORACLED letters path never sees this: its payloads
    are pre-filtered at ``PHASH_MIN_BYTES`` and can't sniff as containers."""
    import numpy as np

    png = _png_gray(payload)
    if png is not None:
        payload = png[0]  # hash the DECODED pixels, not the container bytes
    if len(payload) < PHASH_PIXELS:
        return None
    n = len(payload)
    v = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    total = int(v.sum())
    starts = (np.arange(PHASH_PIXELS, dtype=np.int64) * n) // PHASH_PIXELS
    ends = ((np.arange(PHASH_PIXELS, dtype=np.int64) + 1) * n) // PHASH_PIXELS
    sums = np.add.reduceat(v, starts)
    bits = sums * n > total * (ends - starts)
    lo = int(np.sum((1 << np.arange(32, dtype=np.int64))[bits[:32]]))
    hi = int(np.sum((1 << np.arange(32, dtype=np.int64))[bits[32:]]))
    return hi, lo


def _payload_frame(docs: DataFrame, min_bytes: int) -> DataFrame:
    """(doc_id, payload binary) — the fake-decode payload convention shared
    by ALL payload tiers (image/audio/video, batch and streaming): the
    letters-only byte stream (the dedup tier's ``[a-z]+`` token space,
    concatenated — byte-exact on both engines, no Python-vs-SQL ``lower()``
    hazards), rows below ``min_bytes`` undecodable and dropped on both
    engines. ONE definition so a convention change cannot silently leave a
    modality behind; the SQL twin is :func:`_letters_cps_cte`."""
    return docs.select(
        "doc_id",
        F.expr(f"cast(concat_ws('', {TOKENS}) as binary)")
        .alias("payload"),
    ).where(F.expr(f"octet_length(payload) >= {min_bytes}"))


def _letters_cps_cte(min_bytes: int) -> str:
    """The DuckDB twin of :func:`_payload_frame`: ``letters(doc_id, ls)`` +
    ``cps(doc_id, v, n)`` — codepoints of the letters stream ARE the payload
    bytes (pure [a-z]). Shared prefix of every modality oracle."""
    return f"""letters AS (
  SELECT doc_id,
         array_to_string({TOKENS}, '') AS ls
  FROM documents
),
cps AS (
  SELECT doc_id, list_transform(string_split(ls, ''), c -> unicode(c)) AS v,
         length(ls) AS n
  FROM letters WHERE length(ls) >= {min_bytes}
)"""


def phash_frames(payloads: DataFrame) -> DataFrame:
    """(doc_id, ph_hi, ph_lo) over ANY ``(doc_id, payload binary)`` frame —
    THE image decode seam: Arrow-batched ``mapInPandas`` around
    :func:`_phash64`. The oracled letters-payload table
    (:func:`image_phash_df`) and the real-binary path (a production image
    table; tests/test_multimodal.py pushes genuine PNGs here) run this exact
    function — swapping the stub for a real decoder moves nothing else."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            his: list[int] = []
            los: list[int] = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                hl = _phash64(bytes(p))
                if hl is None:
                    continue  # sub-grid payload: no hash, row dropped (the
                    # same rule the letters path applies via PHASH_MIN_BYTES)
                ids.append(doc_id)
                his.append(hl[0])
                los.append(hl[1])
            yield pd.DataFrame({"doc_id": ids, "ph_hi": his, "ph_lo": los})

    return payloads.mapInPandas(decode, "doc_id long, ph_hi long, ph_lo long")


def image_phash_df(docs: DataFrame) -> DataFrame:
    """DF-level core of :func:`image_phash_table`: payload synthesis + Arrow-
    batched decode/hash over a (doc_id, text) frame. Stateless map-only, so
    the IDENTICAL expression tree + ``mapInPandas`` seam also runs under
    Structured Streaming (``streaming/corpus.py:documents_stream_phash``) —
    ingest-time perceptual indexing with zero shuffle and no state store."""
    return phash_frames(_payload_frame(docs, PHASH_MIN_BYTES))


def image_phash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ph_hi, ph_lo): the perceptual-hash index over every decodable
    payload. The payload is the letters-only byte stream (the dedup tier's
    ``[a-z]+`` token space, concatenated) so the fake decode is byte-exact on
    both engines without Python-vs-SQL ``lower()`` hazards; payloads shorter
    than ``PHASH_MIN_BYTES`` are not decodable (no grid) and drop on both
    engines. Decode + hash runs Arrow-batched in ``mapInPandas`` — the same
    production seam as :func:`multimodal_feature_vectors`; swap
    :func:`_phash64` for a PIL-backed aHash and nothing else moves."""
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_partition=128 * 1024,
    )
    return image_phash_df(docs)


def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming): near-duplicate payload pairs within
    ``PHASH_HAMMING_THRESHOLD`` bits over the 64-bit perceptual hash — the
    IMAGE-side twin of ``dedup_simhash`` (r10 verdict #2), closing the
    multimodal gap: the text side had exact/near/semantic dedup while the
    payload side could only decode. Candidate generation reuses the SimHash
    machinery verbatim (4 x 16-bit bands, hot-bucket cap mirrored in the
    oracle, pure-expression ordered-pair expansion, emit-once band
    predicate): a re-encoded image lands within a few flipped grid bits, so
    every such pair shares >= 1 exact band by pigeonhole and is verified by
    two ``bit_count(xor)``s — never an all-pairs join."""
    ph = image_phash_table(spark, sf_dir).localCheckpoint(eager=False)
    return phash_near_dup_pairs(ph)


def phash_banded(ph: DataFrame) -> DataFrame:
    """(doc_id, ph_hi, ph_lo, band, bkey): the 4×16-bit SimHash banding of a
    perceptual-hash table — the shared candidate-key stage of the batch pair
    operator, the incremental probe, and its persisted twin
    (operators/persisted.py). One definition so the band layout cannot
    silently diverge between the index that is WRITTEN and the batch that
    PROBES it."""
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bkey', {dd._band_key('ph_hi', 'ph_lo', b)})"
        for b in range(PHASH_BANDS)
    )
    return ph.select(
        "doc_id", "ph_hi", "ph_lo",
        F.explode(F.expr(f"array({band_structs})")).alias("bb"),
    ).select("doc_id", "ph_hi", "ph_lo", "bb.band", "bb.bkey")


def phash_near_dup_pairs(ph: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) over ANY ``(doc_id, ph_hi, ph_lo)`` hash
    table — the banded pair stage of :func:`dedup_image_phash`, shared with
    the real-binary path (tests near-dup genuine re-encoded PNGs through
    :func:`phash_frames` + this)."""
    banded = dd._drop_hot_buckets(phash_banded(ph), ["band", "bkey"], dd.LSH_BUCKET_CAP)
    pairs = (
        banded.groupBy("band", "bkey")
        .agg(F.expr("array_sort(array_distinct(collect_list(struct(doc_id, ph_hi, ph_lo))))").alias("ds"))
        .where(F.size("ds") >= 2)
        .select("band", F.explode(F.expr(dd._ordered_pairs_expr("ds"))).alias("p"))
        # duplicate doc_ids with DIFFERENT texts (legal dirty data — the
        # fuzz corpus pins the shape) hash to distinct structs, so the
        # sorted member list can pair an id with itself; the oracle's
        # a.doc_id < b.doc_id join structurally never does. Same filter as
        # the audio tier's vote probe.
        .where(F.expr("p.doc_a.doc_id <> p.doc_b.doc_id"))
        .select(
            "band",
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_a.ph_hi").alias("hi_a"), F.col("p.doc_a.ph_lo").alias("lo_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
            F.col("p.doc_b.ph_hi").alias("hi_b"), F.col("p.doc_b.ph_lo").alias("lo_b"),
        )
    )
    return (
        pairs.withColumn("hamming", F.expr(dd._hamming64_spark("hi_a", "lo_a", "hi_b", "lo_b")))
        .where(F.col("hamming") <= PHASH_HAMMING_THRESHOLD)
        .where(F.expr(dd._earlier_band_mismatch(("hi_a", "lo_a"), ("hi_b", "lo_b"),
                                                n_bands=PHASH_BANDS)))
        .select("doc_a", "doc_b", "hamming")
    )


def _phash_table_ctes() -> str:
    """The fake decode re-derived from the text column (the way
    ``MULTIMODAL_FEATURES_ORACLE`` re-derives the md5 stub): codepoints of
    the letters stream ARE the payload bytes (pure [a-z]), so DuckDB
    recomputes :func:`_phash64` exactly — integer chunk sums and
    cross-multiplied mean comparisons, no float anywhere. Produces
    ``ph(doc_id, ph_hi, ph_lo)``; shared by the table oracle and the banded
    pair oracle."""
    p = PHASH_PIXELS
    bit = "s[j+1] * n > total * sz[j+1]"
    return f"""
{_letters_cps_cte(PHASH_MIN_BYTES)},
sums AS (
  SELECT doc_id, n, list_sum(v) AS total,
         list_transform(range(0, {p}), j -> list_sum(v[(j*n)//{p} + 1:((j+1)*n)//{p}])) AS s,
         list_transform(range(0, {p}), j -> ((j+1)*n)//{p} - (j*n)//{p}) AS sz
  FROM cps
),
ph AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(32, {p}),
              j -> CASE WHEN {bit} THEN 1 << (j - 32) ELSE 0 END)) AS BIGINT) AS ph_hi,
         CAST(list_sum(list_transform(range(0, 32),
              j -> CASE WHEN {bit} THEN 1 << j ELSE 0 END)) AS BIGINT) AS ph_lo
  FROM sums
)"""


def multimodal_phash_oracle() -> str:
    return f"WITH {_phash_table_ctes()} SELECT doc_id, ph_hi, ph_lo FROM ph"


def dedup_image_phash_oracle() -> str:
    """DuckDB twin of :func:`dedup_image_phash`: the shared decode CTEs,
    then the exact SimHash banding SQL over (ph_hi, ph_lo)."""
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, ph_hi, ph_lo, {b} AS band,"
        f" {dd._band_key('ph_hi', 'ph_lo', b)} AS bkey FROM ph"
        for b in range(PHASH_BANDS)
    )
    # hamming + emit-once run over the DISTINCT candidate set (cand CTE),
    # mirroring the engine's array_distinct-before-expansion rule under
    # duplicate (doc_id, text) rows — the two-sided join would multiply
    # identical pairs where the collect_list path emits them once
    ham = dd._hamming64_duck("a_hi", "a_lo", "b_hi", "b_lo")
    emit_once = dd._earlier_band_mismatch(("a_hi", "a_lo"), ("b_hi", "b_lo"),
                                          n_bands=PHASH_BANDS)
    return f"""
WITH {_phash_table_ctes()},
allbanded AS ({band_selects}),
hot AS (SELECT band, bkey FROM allbanded
        GROUP BY band, bkey HAVING count(*) > {dd.LSH_BUCKET_CAP}),
banded AS (SELECT * FROM allbanded bb
           WHERE NOT EXISTS (SELECT 1 FROM hot h
                             WHERE h.band = bb.band AND h.bkey = bb.bkey)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.ph_hi AS a_hi, a.ph_lo AS a_lo,
         b.doc_id AS doc_b, b.ph_hi AS b_hi, b.ph_lo AS b_lo, a.band AS band
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, {ham} AS hamming
FROM cand
WHERE {ham} <= {PHASH_HAMMING_THRESHOLD}
  AND {emit_once}
"""


# the probe carries each side's hash to the hamming confirm
PHASH_CARRY = ("ph_hi", "ph_lo")


def phash_confirm(cand: DataFrame) -> DataFrame:
    """(doc_id, dup_of, hamming): the hamming confirm of an incremental
    image probe carrying :data:`PHASH_CARRY` — shared by the in-memory
    probe and its persisted twin (operators/persisted.py), which register
    under the same oracle."""
    ham = dd._hamming64_spark("ph_hi_new", "ph_lo_new", "ph_hi_idx", "ph_lo_idx")
    return (
        cand.withColumn("hamming", F.expr(ham))
        .where(F.col("hamming") <= PHASH_HAMMING_THRESHOLD)
        .select("doc_id", "dup_of", "hamming")
    )


def dedup_image_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dup_of, hamming): INCREMENTAL image near-dup — each newly
    arriving payload (fixture split ``doc_id % INCR_BATCH_MOD = 0``, the
    engine-wide incremental contract of ``dedup._split_batch`` /
    ``dedup._probe_index``) probed against the already-indexed corpus,
    completing the image modality the way
    ``dedup_substring_incremental`` completes ExactSubstr: the
    (doc_id, ph_hi, ph_lo) band table is the write-once index. Hot index
    buckets (> ``LSH_BUCKET_CAP`` entries — degenerate payloads) are
    excluded exactly as in the batch operator, mirrored in the oracle."""
    ph = image_phash_table(spark, sf_dir).localCheckpoint(eager=False)
    keys = ["band", "bkey"]
    idx, batch = dd._split_batch(ph, keys, dd.LSH_BUCKET_CAP, phash_banded)
    return phash_confirm(dd._probe_index(idx, batch, keys, PHASH_CARRY).distinct())


def dedup_image_phash_incremental_oracle() -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, ph_hi, ph_lo, {b} AS band,"
        f" {dd._band_key('ph_hi', 'ph_lo', b)} AS bkey FROM ph"
        for b in range(PHASH_BANDS)
    )
    ham = dd._hamming64_duck("hi_n", "lo_n", "hi_i", "lo_i")
    return f"""
WITH {_phash_table_ctes()},
allbanded AS ({band_selects}),
idx0 AS (SELECT * FROM allbanded WHERE doc_id % {dd.INCR_BATCH_MOD} <> 0),
hot AS (SELECT band, bkey FROM idx0
        GROUP BY band, bkey HAVING count(*) > {dd.LSH_BUCKET_CAP}),
idx AS (SELECT * FROM idx0 bb
        WHERE NOT EXISTS (SELECT 1 FROM hot h
                          WHERE h.band = bb.band AND h.bkey = bb.bkey)),
newb AS (SELECT * FROM allbanded WHERE doc_id % {dd.INCR_BATCH_MOD} = 0),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, n.ph_hi AS hi_n, n.ph_lo AS lo_n,
         i.doc_id AS dup_of, i.ph_hi AS hi_i, i.ph_lo AS lo_i
  FROM newb n JOIN idx i ON n.band = i.band AND n.bkey = i.bkey
)
SELECT doc_id, dup_of, {ham} AS hamming
FROM cand
WHERE {ham} <= {PHASH_HAMMING_THRESHOLD}
"""


# --------------------------------------------------------------------------- #
# audio near-dup: frame fingerprints + offset-aligned voting
# --------------------------------------------------------------------------- #
#
# Completes the modality matrix started by the image tier (round-10 verdict
# #2 / round-11 continuation): IMAGE near-dup is a single 64-bit perceptual
# hash under hamming-banded LSH; AUDIO is a *temporal sequence*, so the
# public technique is different — per-frame sub-fingerprints over overlapping
# windows (Chromaprint / Shazam constellation, both published methods), an
# inverted index on the frame fingerprint, and OFFSET-ALIGNED VOTING: a pair
# is a near-dup when >= AUDIO_MIN_ALIGNED frames match at one consistent
# time offset. A localized edit breaks only the frames it touches; the rest
# still vote. This is the audio twin of ExactSubstr's diagonal trick
# (dedup.py: span merge keyed by (doc_a, doc_b, diagonal)) — the "diagonal"
# here is the frame-index delta.

# frame window / hop in payload bytes (stands in for ~0.37 s FFT windows with
# 50% overlap in a real Chromaprint pipeline)
AUDIO_FRAME_BYTES = 32
AUDIO_HOP_BYTES = 16
# a pair is a near-dup when this many frames match at ONE offset delta;
# random 31-bit fingerprint collisions cannot reach this (see docstring)
AUDIO_MIN_ALIGNED = 8


def _audio_fingerprints(payload: bytes) -> list[int]:
    """Frame fingerprinter — sign-of-first-difference over each
    ``AUDIO_FRAME_BYTES`` window at ``AUDIO_HOP_BYTES`` hop. A REAL
    RIFF/WAVE PCM payload decodes with the stdlib (:func:`_wav_signal`) and
    fingerprints its actual sample stream — the "swap the stub" path,
    exercised by tests/test_multimodal.py near-dupping an edited WAV copy.
    Anything else fingerprints the raw payload bytes as the signal (no
    torchaudio in the container; the oracled letters-bytes payloads can
    never sniff as RIFF, so oracle parity is untouched). A full production
    decoder takes the sign pattern of band-energy differences per FFT frame
    (Chromaprint's bit layout) through this same seam. Both paths preserve
    the two properties the matcher needs and an md5-derived fake destroys:
    IDENTICAL windows produce identical fingerprints, and a localized edit
    perturbs only the <= 2 frames whose windows overlap it.

    Bit j of frame i is set iff byte[i*hop + j + 1] > byte[i*hop + j]
    (31 bits per frame — collision probability across a corpus of ~1e5
    frames is negligible next to ``AUDIO_MIN_ALIGNED`` aligned votes).

    Vectorized (numpy int64 end-to-end) — this is the hot decode path,
    Arrow-batched by the caller; semantics are the scalar loop
    ``h |= 1 << j if frame[j+1] > frame[j]``, exercised against this
    implementation in tests/test_multimodal.py."""
    import numpy as np

    wav = _wav_signal(payload)
    if wav is not None:
        payload = wav  # fingerprint the DECODED signal, not container bytes
    a = np.frombuffer(payload, dtype=np.uint8)
    n = len(a)
    if n < AUDIO_FRAME_BYTES:
        return []
    d = (a[1:] > a[:-1]).astype(np.int64)
    nf = (n - AUDIO_FRAME_BYTES) // AUDIO_HOP_BYTES + 1
    idx = (np.arange(nf)[:, None] * AUDIO_HOP_BYTES
           + np.arange(AUDIO_FRAME_BYTES - 1)[None, :])
    weights = 1 << np.arange(AUDIO_FRAME_BYTES - 1, dtype=np.int64)
    return (d[idx] * weights).sum(axis=1).tolist()


def audio_fingerprint_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, frame_idx, fh): the frame-fingerprint inverted-index input —
    one row per overlapping window of every decodable payload. Same
    letters-only byte stream as :func:`image_phash_table` (bytes ==
    codepoints, so DuckDB recomputes the stub exactly); payloads shorter than
    one window are not decodable and drop on both engines. Decode +
    fingerprint runs Arrow-batched in ``mapInPandas`` — swap
    :func:`_audio_fingerprints` for an FFT-backed Chromaprint and nothing
    else moves. Frame count is O(payload bytes / hop): map-only, no shuffle,
    partition-bounded by ``spread``'s byte budget — at 100 TB this is the
    same scan-shaped work as tokenization."""
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_partition=128 * 1024,
    )
    return audio_fp_frames(_payload_frame(docs, AUDIO_FRAME_BYTES))


def audio_fp_frames(payloads: DataFrame) -> DataFrame:
    """(doc_id, frame_idx, fh) over ANY ``(doc_id, payload binary)`` frame —
    THE audio decode seam: Arrow-batched ``mapInPandas`` around
    :func:`_audio_fingerprints`. The oracled letters-payload table and the
    real-binary path (a production audio table; tests/test_multimodal.py
    pushes genuine WAVs here) run this exact function."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            fhs: list[int] = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                for i, h in enumerate(_audio_fingerprints(bytes(p))):
                    ids.append(doc_id)
                    idxs.append(i)
                    fhs.append(h)
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "fh": fhs})

    return payloads.mapInPandas(decode, "doc_id long, frame_idx int, fh long")


def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, delta, n_aligned): audio near-dup pairs — >=
    ``AUDIO_MIN_ALIGNED`` frames whose fingerprints match at one consistent
    frame-index offset ``delta``. Shape at scale: the inverted index groups
    by the 31-bit fingerprint (ONE shuffle on fh); per-bucket pair expansion
    is a pure array expression bounded by the hot-bucket cap (degenerate
    constant payloads — the audio analogue of boilerplate — are amputated
    BEFORE materialization, mirrored in the oracle); the vote histogram is a
    second small shuffle on (doc_a, doc_b, delta) whose input is candidate
    mass, not corpus mass. Never an all-pairs join.

    The frame table is lineage-cut (r16): ``_drop_hot_buckets`` consumes it
    twice (hot-fingerprint count + anti-join side), and without the cut the
    payload synthesis + decode kernel ran twice per query — the same cut
    the image (`dedup_image_phash`) and video (`video_set_pairs`) tiers
    already carry."""
    return audio_align_pairs(
        audio_fingerprint_table(spark, sf_dir).localCheckpoint(eager=False)
    )


def audio_align_pairs(fps: DataFrame) -> DataFrame:
    """(doc_a, doc_b, delta, n_aligned) over ANY ``(doc_id, frame_idx, fh)``
    fingerprint table — the inverted-index + offset-vote stage of
    :func:`dedup_audio_fingerprint`, shared with the real-binary path (tests
    near-dup a genuinely edited WAV through :func:`audio_fp_frames` +
    this)."""
    buck = dd._drop_hot_buckets(fps, ["fh"], dd.LSH_BUCKET_CAP)
    pairs = (
        buck.groupBy("fh")
        .agg(F.expr("array_sort(array_distinct(collect_list(struct(doc_id, frame_idx))))").alias("ds"))
        .where(F.size("ds") >= 2)
        .select(F.explode(F.expr(dd._ordered_pairs_expr("ds"))).alias("p"))
        .where(F.expr("p.doc_a.doc_id <> p.doc_b.doc_id"))
        .select(
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
            (F.col("p.doc_a.frame_idx") - F.col("p.doc_b.frame_idx")).alias("delta"),
        )
    )
    return (
        pairs.groupBy("doc_a", "doc_b", "delta")
        .agg(F.count(F.lit(1)).alias("n_aligned"))
        .where(F.col("n_aligned") >= AUDIO_MIN_ALIGNED)
    )


def _audio_frames_cte() -> str:
    """Frame table re-derived from the text column (bytes == codepoints on
    the pure-[a-z] letters stream): DuckDB recomputes
    :func:`_audio_fingerprints` exactly — integer comparisons only. Produces
    ``frames(doc_id, frame_idx, fh)``."""
    w, h = AUDIO_FRAME_BYTES, AUDIO_HOP_BYTES
    return f"""
{_letters_cps_cte(w)},
fr AS (
  SELECT doc_id, v, unnest(range(0, (n - {w}) // {h} + 1)) AS frame_idx FROM cps
),
frames AS (
  SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
         CAST(list_sum(list_transform(range(0, {w - 1}),
              j -> CASE WHEN v[frame_idx * {h} + j + 2] > v[frame_idx * {h} + j + 1]
                        THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS fh
  FROM fr
)"""


def multimodal_audio_fp_oracle() -> str:
    return f"WITH {_audio_frames_cte()} SELECT doc_id, frame_idx, fh FROM frames"


def dedup_audio_fingerprint_oracle() -> str:
    """DuckDB twin of :func:`dedup_audio_fingerprint`: shared frame CTE, the
    engine's hot-bucket cap, candidate pairs via fingerprint equi-join
    (doc_a < doc_b — identical to the sorted-array pair expansion), then the
    offset-delta vote histogram."""
    return f"""
WITH {_audio_frames_cte()},
hot AS (SELECT fh FROM frames GROUP BY fh HAVING count(*) > {dd.LSH_BUCKET_CAP}),
cold AS (SELECT DISTINCT doc_id, frame_idx, fh FROM frames
         WHERE fh NOT IN (SELECT fh FROM hot)),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.frame_idx - b.frame_idx AS delta
  FROM cold a JOIN cold b ON a.fh = b.fh AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, delta, count(*) AS n_aligned
FROM cand
GROUP BY doc_a, doc_b, delta
HAVING count(*) >= {AUDIO_MIN_ALIGNED}
"""


# --------------------------------------------------------------------------- #
# video near-dup: content-anchored keyframe phashes + set-overlap voting
# --------------------------------------------------------------------------- #
#
# The third modality, and the third distinct algorithm shape. Video identity
# survives trims, re-cuts and re-muxing, so two design choices follow, both
# published methods:
#
# 1. CONTENT-ANCHORED sampling, not fixed-position sampling. Keyframes are
#    taken where the content itself satisfies a local condition (the
#    scene-cut detector of real content-ID pipelines; byte-level analogue:
#    the rolling-condition anchors of content-defined chunking, rsync/LBFS).
#    Fixed fractional positions (frame i at i/K of the duration) break under
#    ANY length change — every sample shifts — whereas content anchors
#    re-synchronize right after an edit. The fixture's organic near-dups are
#    length-changing edits, so this is observable, not theoretical.
# 2. ORDER-INSENSITIVE matching: a pair is a near-dup when the Jaccard
#    overlap of their distinct keyframe-hash sets reaches 1/2, applied in
#    exact integer arithmetic (3*shared >= |A| + |B|  <=>  J >= 1/2) — no
#    float anywhere. Re-ordering scenes does not change the set.
#
# Each keyframe is perceptual-hashed with the image tier's :func:`_phash64`.

# keyframe slice length == PHASH_PIXELS, so each aHash grid cell is one
# byte — the oracle recomputes the per-frame hash as a flat per-byte
# comparison (the general cross-multiplied mean test specialized at n == 64)
VIDEO_FRAME_BYTES = PHASH_PIXELS
# anchor condition: 4-byte window sum divisible by this — anchor density
# ~1/16, the "scene cut rate" of the stub detector
VIDEO_ANCHOR_MOD = 16


def _video_keyframes(payload: bytes) -> list[tuple[int, int, int]]:
    """Keyframe sampler + hasher — (frame_key, ph_hi, ph_lo) per keyframe.
    A REAL GIF payload decodes with the stdlib (:func:`_gif_gray_frames`)
    and perceptual-hashes each actual frame's pixels (``frame_key`` = frame
    ordinal) — the "swap the stub" path, exercised by
    tests/test_multimodal.py near-dupping a re-cut GIF. Anything else takes
    the STUB sampler over the byte stream (no PyAV/ffmpeg in the container;
    the oracled letters-bytes payloads can never carry a GIF magic, so
    oracle parity is untouched): the "scene-cut detector" is a rolling
    condition — position ``a`` anchors a keyframe iff
    ``sum(payload[a:a+4]) % VIDEO_ANCHOR_MOD == 0`` and a full
    ``VIDEO_FRAME_BYTES`` slice fits (``frame_key`` = anchor byte offset).
    Both paths preserve the property the matcher needs: content shared by
    two payloads produces IDENTICAL keyframe hashes (a full production
    decoder's scene-cut frames behave like the GIF path), and the
    order-insensitive set matcher downstream makes re-cuts findable.

    The stub path is vectorized (numpy int64 end-to-end, exact integer
    comparisons) — it is the hot decode path, Arrow-batched by the
    caller."""
    import numpy as np

    gif = _gif_gray_frames(payload)
    if gif is not None:
        hashed = ((i, _phash64(frame)) for i, frame in enumerate(gif))
        return [(i, hl[0], hl[1]) for i, hl in hashed if hl is not None]
    a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    n = len(a)
    if n < VIDEO_FRAME_BYTES:
        return []
    s4 = a[: n - 3] + a[1: n - 2] + a[2: n - 1] + a[3:]
    pos = np.nonzero(s4 % VIDEO_ANCHOR_MOD == 0)[0]
    pos = pos[pos <= n - VIDEO_FRAME_BYTES]
    if len(pos) == 0:
        return []
    frames = a[pos[:, None] + np.arange(VIDEO_FRAME_BYTES)[None, :]]
    totals = frames.sum(axis=1)
    # _phash64 specialized at slice length == PHASH_PIXELS: cell j is byte j,
    # bit j set iff byte_j * 64 > slice_total (same exact-integer test)
    bits = frames * VIDEO_FRAME_BYTES > totals[:, None]
    weights = (1 << np.arange(32, dtype=np.int64))
    lo = (bits[:, :32] * weights).sum(axis=1)
    hi = (bits[:, 32:] * weights).sum(axis=1)
    return list(zip(pos.tolist(), hi.tolist(), lo.tolist()))


def video_frame_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, frame_idx, ph_hi, ph_lo): content-anchored keyframe
    perceptual hashes — the frame-sample plumbing of SURVEY §7.2's multimodal
    contract, Arrow-batched through the same decode seam as the image tier
    (``frame_idx`` is the anchor byte offset). Map-only, no shuffle; frame
    count is O(payload bytes / anchor period), the same scan-shaped cost as
    tokenization."""
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_partition=128 * 1024,
    )
    return video_keyframe_frames(_payload_frame(docs, VIDEO_FRAME_BYTES))


def video_keyframe_frames(payloads: DataFrame) -> DataFrame:
    """(doc_id, frame_idx, ph_hi, ph_lo) over ANY ``(doc_id, payload
    binary)`` frame — THE video decode seam: Arrow-batched ``mapInPandas``
    around :func:`_video_keyframes`. The oracled letters-payload table and
    the real-binary path (a production video table; tests push genuine GIFs
    here) run this exact function."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            his: list[int] = []
            los: list[int] = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                for pos, hi, lo in _video_keyframes(bytes(p)):
                    ids.append(doc_id)
                    idxs.append(pos)
                    his.append(hi)
                    los.append(lo)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "ph_hi": his, "ph_lo": los}
            )

    return payloads.mapInPandas(
        decode, "doc_id long, frame_idx int, ph_hi long, ph_lo long"
    )


def dedup_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared, n_union): video near-dup pairs — distinct
    keyframe-hash sets overlapping at Jaccard >= 1/2, tested as
    3*n_shared >= n_a + n_b (exact integers). Plan shape: ONE groupBy on the
    64-bit keyframe hash builds the inverted index (hot-hash cap before any
    bucket materializes — a black-frame analogue would otherwise expand
    quadratically, mirrored in the oracle), pure-expression ordered-pair
    expansion, then per-doc distinct counts join in as two small aggregates.
    The distinct keyframe table is lineage-cut because three consumers share
    it. Candidate mass is Σ min(bucket, cap)², never an all-pairs join."""
    return video_set_pairs(video_frame_table(spark, sf_dir))


def video_set_pairs(frames: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_shared, n_union) over ANY ``(doc_id, …, ph_hi,
    ph_lo)`` keyframe table — the set-overlap stage of
    :func:`dedup_video_frames`, shared with the real-binary path (tests
    near-dup a genuinely re-cut GIF through :func:`video_keyframe_frames` +
    this)."""
    vfh = (
        frames
        .select("doc_id", "ph_hi", "ph_lo")
        .distinct()
        .localCheckpoint(eager=False)
    )
    dcnt = vfh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_frames"))
    buck = dd._drop_hot_buckets(vfh, ["ph_hi", "ph_lo"], dd.LSH_BUCKET_CAP)
    shared = (
        buck.groupBy("ph_hi", "ph_lo")
        .agg(F.expr("array_sort(collect_list(doc_id))").alias("ds"))
        .where(F.size("ds") >= 2)
        .select(F.explode(F.expr(dd._ordered_pairs_expr("ds"))).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            dcnt.select(F.col("doc_id").alias("doc_a"), F.col("n_frames").alias("n_a")),
            "doc_a",
        )
        .join(
            dcnt.select(F.col("doc_id").alias("doc_b"), F.col("n_frames").alias("n_b")),
            "doc_b",
        )
        .where(3 * F.col("n_shared") >= F.col("n_a") + F.col("n_b"))
        .select(
            "doc_a", "doc_b", "n_shared",
            (F.col("n_a") + F.col("n_b") - F.col("n_shared")).alias("n_union"),
        )
    )


def _video_frames_cte() -> str:
    """Keyframe phash table re-derived in SQL (bytes == codepoints on the
    pure-[a-z] letters stream): the anchor condition is a 4-byte window sum
    mod ``VIDEO_ANCHOR_MOD``; with the slice length equal to
    ``PHASH_PIXELS``, :func:`_phash64`'s grid cell j is exactly byte j, so
    bit j is ``byte_j * 64 > slice_total``. Produces
    ``vfh(doc_id, frame_idx, ph_hi, ph_lo)``."""
    fb, mod = VIDEO_FRAME_BYTES, VIDEO_ANCHOR_MOD
    bit = f"v[frame_idx + j + 1] * {fb} > total"
    return f"""
{_letters_cps_cte(fb)},
anch AS (
  SELECT doc_id, v, unnest(range(0, n - {fb - 1})) AS a FROM cps
),
keyf AS (
  SELECT doc_id, CAST(a AS INTEGER) AS frame_idx, v
  FROM anch
  WHERE (v[a + 1] + v[a + 2] + v[a + 3] + v[a + 4]) % {mod} = 0
),
slt AS (
  SELECT doc_id, frame_idx, v,
         list_sum(v[frame_idx + 1: frame_idx + {fb}]) AS total
  FROM keyf
),
vfh AS (
  SELECT doc_id, frame_idx,
         CAST(list_sum(list_transform(range(32, {fb}),
              j -> CASE WHEN {bit} THEN (1::BIGINT << (j - 32)) ELSE 0 END)) AS BIGINT) AS ph_hi,
         CAST(list_sum(list_transform(range(0, 32),
              j -> CASE WHEN {bit} THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS ph_lo
  FROM slt
)"""


def multimodal_video_frames_oracle() -> str:
    return f"WITH {_video_frames_cte()} SELECT doc_id, frame_idx, ph_hi, ph_lo FROM vfh"


def dedup_video_frames_oracle() -> str:
    return f"""
WITH {_video_frames_cte()},
dh AS (SELECT DISTINCT doc_id, ph_hi, ph_lo FROM vfh),
dcnt AS (SELECT doc_id, count(*) AS n_frames FROM dh GROUP BY doc_id),
hot AS (SELECT ph_hi, ph_lo FROM dh GROUP BY ph_hi, ph_lo
        HAVING count(*) > {dd.LSH_BUCKET_CAP}),
cold AS (SELECT * FROM dh d
         WHERE NOT EXISTS (SELECT 1 FROM hot h
                           WHERE h.ph_hi = d.ph_hi AND h.ph_lo = d.ph_lo)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM cold a JOIN cold b
    ON a.ph_hi = b.ph_hi AND a.ph_lo = b.ph_lo AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_a, s.doc_b, s.n_shared,
       ca.n_frames + cb.n_frames - s.n_shared AS n_union
FROM shared s
JOIN dcnt ca ON ca.doc_id = s.doc_a
JOIN dcnt cb ON cb.doc_id = s.doc_b
WHERE 3 * s.n_shared >= ca.n_frames + cb.n_frames
"""


def dedup_audio_fingerprint_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dup_of, delta, n_aligned): INCREMENTAL audio near-dup — each
    newly arriving payload (fixture split ``doc_id % INCR_BATCH_MOD = 0``,
    ``dedup._split_batch`` / ``dedup._probe_index``) probed against the
    already-indexed corpus, completing the audio modality the way
    ``dedup_image_phash_incremental`` completes the image one: the
    (doc_id, frame_idx, fh) inverted index is the write-once state. Hot
    index fingerprints (> ``LSH_BUCKET_CAP`` occurrences — degenerate
    constant payloads) are excluded exactly as in the batch operator,
    mirrored in the oracle."""
    # lineage cut (r16): THREE consumers (hot-fingerprint count, index join
    # side, broadcast batch side) — the decode kernel otherwise ran three
    # times per query; the image/video incremental twins already cut here
    fps = audio_fingerprint_table(spark, sf_dir).localCheckpoint(eager=False)
    idx, batch = dd._split_batch(fps, ["fh"], dd.LSH_BUCKET_CAP)
    # .distinct() on both probe sides: duplicate document rows (legal dirty
    # data) duplicate every (doc_id, frame_idx, fh) row, and raw-row joins
    # would multiply the vote counts — the batch operator dedups the same
    # way via array_distinct inside its bucket lists, and the incremental
    # contract is 'batch restricted to new docs'. Hot-cap BEFORE distinct,
    # matching the batch order (cap counts raw occurrences).
    return (
        dd._probe_index(idx.distinct(), batch.distinct(), ["fh"], ("frame_idx",))
        .select(
            "doc_id", "dup_of",
            (F.col("frame_idx_new") - F.col("frame_idx_idx")).alias("delta"),
        )
        .groupBy("doc_id", "dup_of", "delta")
        .agg(F.count(F.lit(1)).alias("n_aligned"))
        .where(F.col("n_aligned") >= AUDIO_MIN_ALIGNED)
    )


def dedup_audio_fingerprint_incremental_oracle() -> str:
    return f"""
WITH {_audio_frames_cte()},
idx0 AS (SELECT * FROM frames WHERE doc_id % {dd.INCR_BATCH_MOD} <> 0),
hot AS (SELECT fh FROM idx0 GROUP BY fh HAVING count(*) > {dd.LSH_BUCKET_CAP}),
idx AS (SELECT DISTINCT doc_id, frame_idx, fh FROM idx0
        WHERE fh NOT IN (SELECT fh FROM hot)),
newb AS (SELECT DISTINCT doc_id, frame_idx, fh FROM frames
         WHERE doc_id % {dd.INCR_BATCH_MOD} = 0),
cand AS (
  SELECT n.doc_id AS doc_id, i.doc_id AS dup_of,
         n.frame_idx - i.frame_idx AS delta
  FROM newb n JOIN idx i ON n.fh = i.fh
)
SELECT doc_id, dup_of, delta, count(*) AS n_aligned
FROM cand
GROUP BY doc_id, dup_of, delta
HAVING count(*) >= {AUDIO_MIN_ALIGNED}
"""


def neardup_modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, by_image, by_audio, by_video): cross-modality ensemble
    view — every near-dup pair flagged by ANY of the three payload operators,
    with one boolean per modality detector. The modality-matrix capstone:
    image (hamming-banded whole-payload aHash), audio (offset-aligned frame
    votes) and video (content-anchored keyframe Jaccard) catch overlapping
    but distinct pair sets, and a real curation pipeline acts on the ensemble
    (e.g. quarantine 2-of-3 agreements). Each detector's pair frame is tiny
    relative to the corpus, so the unions/aggregation shuffle candidate mass,
    not corpus mass.

    r16 (guide §6 / §1.2 "don't compute things twice"): the three detectors
    share ONE payload synthesis — scan → tokenize → letters-concat is the
    identical expression in all three (`_payload_frame`; only ``min_bytes``
    differs), yet running the standalone operators re-scanned the corpus and
    re-built the payload THREE times for this one query. The shared frame is
    built once at the weakest filter (AUDIO_FRAME_BYTES = 32 < PHASH/VIDEO's
    64), lineage-cut, and each modality applies its own ``octet_length``
    floor on top — byte-for-byte the rows its standalone `_payload_frame`
    produces, so each detector's pair set (and the oracle) is untouched.
    The standalone per-modality queries keep their own scans (each is
    column-pruned and map-only; sharing only pays when one query needs all
    three). At 100 TB the same cut applies: synthesize/decode payload
    features once per corpus pass, fan out detectors over the materialized
    frame."""
    assert AUDIO_FRAME_BYTES <= min(PHASH_MIN_BYTES, VIDEO_FRAME_BYTES)
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_partition=128 * 1024,
    )
    payloads = _payload_frame(docs, AUDIO_FRAME_BYTES).localCheckpoint(eager=False)
    img = (
        phash_near_dup_pairs(
            phash_frames(
                payloads.where(F.expr(f"octet_length(payload) >= {PHASH_MIN_BYTES}"))
            ).localCheckpoint(eager=False)
        )
        .select("doc_a", "doc_b", F.lit("image").alias("m"))
    )
    aud = (
        # cut: _drop_hot_buckets consumes the frame table twice (hot-bucket
        # count + anti-join side); without the cut the audio decode kernel
        # runs twice even off the shared payload frame
        audio_align_pairs(audio_fp_frames(payloads).localCheckpoint(eager=False))
        .select("doc_a", "doc_b", F.lit("audio").alias("m"))
    )
    vid = (
        video_set_pairs(
            video_keyframe_frames(
                payloads.where(F.expr(f"octet_length(payload) >= {VIDEO_FRAME_BYTES}"))
            )
        )
        .select("doc_a", "doc_b", F.lit("video").alias("m"))
    )
    return (
        img.unionByName(aud).unionByName(vid)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.expr("bool_or(m = 'image')").alias("by_image"),
            F.expr("bool_or(m = 'audio')").alias("by_audio"),
            F.expr("bool_or(m = 'video')").alias("by_video"),
        )
    )


def neardup_modality_agreement_oracle() -> str:
    """Each detector's full oracle embedded as a subquery-local WITH (their
    CTE names collide, so they cannot share one WITH list), unioned with a
    modality tag and folded to one row per pair."""
    return f"""
SELECT doc_a, doc_b,
       bool_or(m = 'image') AS by_image,
       bool_or(m = 'audio') AS by_audio,
       bool_or(m = 'video') AS by_video
FROM (
  SELECT doc_a, doc_b, 'image' AS m FROM ({dedup_image_phash_oracle()})
  UNION ALL
  SELECT doc_a, doc_b, 'audio' AS m FROM ({dedup_audio_fingerprint_oracle()})
  UNION ALL
  SELECT doc_a, doc_b, 'video' AS m FROM ({dedup_video_frames_oracle()})
)
GROUP BY doc_a, doc_b
"""


def dedup_video_frames_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dup_of, n_shared, n_union): INCREMENTAL video near-dup —
    each newly arriving payload (``doc_id % INCR_BATCH_MOD = 0``,
    ``dedup._split_batch`` / ``dedup._probe_index``) probed against the
    already-indexed corpus, completing the incremental column of the
    modality matrix (exact text / substring / image / audio all have one).
    Production state is the write-once (doc_id, keyframe-hash) index PLUS
    its per-doc distinct-frame count column — both append-only, so the
    Jaccard >= 1/2 test runs in exact integers against the stored counts.
    Hot index hashes are excluded as in the batch operator (cap on the
    index side only, mirrored in the oracle)."""
    vfh = (
        video_frame_table(spark, sf_dir)
        .select("doc_id", "ph_hi", "ph_lo")
        .distinct()
        .localCheckpoint(eager=False)
    )
    keys = ["ph_hi", "ph_lo"]
    idx, batch = dd._split_batch(vfh, keys, dd.LSH_BUCKET_CAP)
    # per-doc distinct-frame counts: the index side's is stored state in
    # production, recomputed here over the whole uncapped table (the join on
    # dup_of keeps index docs only); the batch side's is batch-sized
    icnt = vfh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_idx"))
    ncnt = batch.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    shared = (
        dd._probe_index(idx, batch, keys)
        .groupBy("doc_id", "dup_of")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    probe = shared.join(F.broadcast(ncnt), "doc_id")
    return (
        icnt.withColumnRenamed("doc_id", "dup_of")
        .join(F.broadcast(probe), "dup_of")
        .where(3 * F.col("n_shared") >= F.col("n_new") + F.col("n_idx"))
        .select(
            "doc_id", "dup_of", "n_shared",
            (F.col("n_new") + F.col("n_idx") - F.col("n_shared")).alias("n_union"),
        )
    )


def dedup_video_frames_incremental_oracle() -> str:
    return f"""
WITH {_video_frames_cte()},
dh AS (SELECT DISTINCT doc_id, ph_hi, ph_lo FROM vfh),
idx AS (SELECT * FROM dh WHERE doc_id % {dd.INCR_BATCH_MOD} <> 0),
hot AS (SELECT ph_hi, ph_lo FROM idx GROUP BY ph_hi, ph_lo
        HAVING count(*) > {dd.LSH_BUCKET_CAP}),
cold AS (SELECT * FROM idx d
         WHERE NOT EXISTS (SELECT 1 FROM hot h
                           WHERE h.ph_hi = d.ph_hi AND h.ph_lo = d.ph_lo)),
newb AS (SELECT * FROM dh WHERE doc_id % {dd.INCR_BATCH_MOD} = 0),
icnt AS (SELECT doc_id, count(*) AS n_idx FROM idx GROUP BY doc_id),
ncnt AS (SELECT doc_id, count(*) AS n_new FROM newb GROUP BY doc_id),
shared AS (
  SELECT n.doc_id AS doc_id, i.doc_id AS dup_of, count(*) AS n_shared
  FROM newb n JOIN cold i ON n.ph_hi = i.ph_hi AND n.ph_lo = i.ph_lo
  GROUP BY n.doc_id, i.doc_id
)
SELECT s.doc_id, s.dup_of, s.n_shared,
       nc.n_new + ic.n_idx - s.n_shared AS n_union
FROM shared s
JOIN ncnt nc ON nc.doc_id = s.doc_id
JOIN icnt ic ON ic.doc_id = s.dup_of
WHERE 3 * s.n_shared >= nc.n_new + ic.n_idx
"""
