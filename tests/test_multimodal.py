"""Multimodal binary plumbing: metadata oracle parity + Arrow decode stub."""

from __future__ import annotations

from tests.conftest import SF_SMOKE, assert_query_matches_oracle
from tf_idf_using_mapreduce_spark.operators import multimodal as mm


def test_meta_oracle_parity(spark):
    assert_query_matches_oracle(spark, "multimodal_meta")


def test_features_oracle_parity(spark):
    assert_query_matches_oracle(spark, "multimodal_features")


def test_features_schema_and_determinism(spark):
    df = mm.multimodal_feature_vectors(spark, SF_SMOKE)
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,width:int,height:int,features:array<float>>"
    )
    a = sorted((r["doc_id"], r["width"], r["height"]) for r in df.collect())
    b = sorted((r["doc_id"], r["width"], r["height"]) for r in df.collect())
    assert a == b and len(a) == 500
    row = df.where("doc_id = 0").first()
    assert len(row["features"]) == mm.N_FAKE_FEATURES
    assert all(32 <= v < 256 for v in (row["width"], row["height"]))


def test_payload_roundtrip(spark):
    from tf_idf_using_mapreduce_spark.sources.corpus import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").limit(5)
    rows = mm.with_payload(docs).collect()
    for r in rows:
        assert isinstance(r["payload"], bytearray | bytes)
        assert len(bytes(r["payload"])) == r["n_bytes"]


# --------------------------------------------------------------------------- #
# round-11: perceptual-hash image near-dup (aHash + hamming banding)
# --------------------------------------------------------------------------- #

def test_multimodal_phash_oracle_parity(spark):
    assert_query_matches_oracle(spark, "multimodal_phash")


def test_dedup_image_phash_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_image_phash")


def _phash_corpus(spark, rows):
    import tempfile

    import duckdb

    import __spark_entry__ as e
    from tools.canon import canon_rows

    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        pairs = mm.dedup_image_phash(spark, tmp).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        ora = con.sql(e.oracle_sql()["dedup_image_phash"]).df()
        con.close()
    assert canon_rows(pairs) == canon_rows(ora)
    return pairs


def test_dedup_image_phash_finds_reencoded_and_perturbed_payloads(spark):
    """The near-dup-injection scenario (r10 verdict #2): payload A, its
    RE-ENCODE D (same letters, different case/punctuation — byte-identical
    after decode, hamming 0), and a PERTURBED copy B (one 4-byte grid cell
    rewritten low->high: exactly one aHash bit flips). All three must pair
    within the threshold; an unrelated payload C pairs with nothing; and the
    oracle reproduces the pair set on the injected corpus."""
    # 64 chunks x 4 chars: alternating low ('a') / high ('z') cells keeps
    # every cell mean far from the global mean, so the one engineered flip
    # is the ONLY flip
    a_letters = "".join(("aaaa" if j % 2 == 0 else "zzzz") for j in range(64))
    b_letters = "zzzz" + a_letters[4:]           # cell 0 rewritten -> bit 0 flips
    d_text = " ".join(a_letters[i:i + 8].upper() + "," for i in range(0, 256, 8))
    c_letters = "".join(
        chr(97 + (j * 11) % 26) * 4 for j in range(64)
    )  # unrelated spread-out grid
    pairs = _phash_corpus(spark, [
        (1, a_letters), (2, b_letters), (3, c_letters), (4, d_text),
    ])
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs.itertuples()}
    assert got == {(1, 2): 1, (1, 4): 0, (2, 4): 1}


def test_dedup_image_phash_short_payloads_not_decodable(spark):
    """Payloads below PHASH_MIN_BYTES have no 8x8 grid: they are excluded on
    both engines rather than hashed degenerately."""
    short = "ab " * 10  # 20 letters < 64
    pairs = _phash_corpus(spark, [(1, short), (2, short), (3, None)])
    assert len(pairs) == 0


def test_dedup_image_phash_hot_bucket_cap_mirrored(spark):
    """A degenerate payload shared by more docs than LSH_BUCKET_CAP saturates
    every band bucket and is amputated before pair expansion — candidate
    mass stays bounded, and the oracle mirrors the (here: empty) output."""
    from tf_idf_using_mapreduce_spark.operators.dedup import LSH_BUCKET_CAP

    boiler = "".join(("mmmm" if j % 3 == 0 else "qqqq") for j in range(64))
    rows = [(d, boiler) for d in range(LSH_BUCKET_CAP + 7)]
    pairs = _phash_corpus(spark, rows)
    assert len(pairs) == 0


def test_dedup_image_phash_incremental_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_image_phash_incremental")


_A_LETTERS = "".join(("aaaa" if j % 2 == 0 else "zzzz") for j in range(64))
_B_LETTERS = "zzzz" + _A_LETTERS[4:]  # one aHash bit from A
_IMAGE_INCR_ROWS = [
    (1, _A_LETTERS),  # index
    (2, "".join(chr(97 + (j * 11) % 26) * 4 for j in range(64))),  # index, unrelated
    (5, _B_LETTERS),  # batch: near-dup of index doc 1
    (10, _B_LETTERS),  # batch: identical to doc 5 (batch-internal pair)
]


def test_dedup_image_phash_incremental_probes_index_only(spark):
    """Daily-ingest contract: batch payloads (doc_id % 5 == 0) pair against
    the INDEX only — a batch-internal duplicate pair is out of contract, an
    index near-dup is found with the exact hamming. Oracle cross-checked on
    the injected corpus via the registered twin."""
    import tempfile

    import duckdb

    import __spark_entry__ as e
    from tools.canon import canon_rows

    df = spark.createDataFrame(_IMAGE_INCR_ROWS, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        got = mm.dedup_image_phash_incremental(spark, tmp).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        ora = con.sql(e.oracle_sql()["dedup_image_phash_incremental"]).df()
        con.close()
    pairs = {(r.doc_id, r.dup_of): r.hamming for r in got.itertuples()}
    assert pairs == {(5, 1): 1, (10, 1): 1}  # no (5,10)/(10,5) batch pair
    assert canon_rows(got) == canon_rows(ora)


def test_image_incremental_reads_bucket_cap_at_call_time(spark, monkeypatch, tmp_path):
    """tools/skew_bench.py rebinds ``dedup.LSH_BUCKET_CAP`` and counts on the
    multimodal operators reading it at call time, not as a name copied at
    import. At cap 0 every index bucket is hot, so the probe that finds two
    pairs at the production cap finds none. (The smoke corpus has no image
    near-dup across the split, so it could not tell the two apart.)"""
    from tf_idf_using_mapreduce_spark.operators import dedup

    spark.createDataFrame(_IMAGE_INCR_ROWS, "doc_id long, text string") \
        .coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    assert mm.dedup_image_phash_incremental(spark, str(tmp_path)).count() == 2
    monkeypatch.setattr(dedup, "LSH_BUCKET_CAP", 0)
    assert mm.dedup_image_phash_incremental(spark, str(tmp_path)).count() == 0


def test_image_incremental_persisted_oracle_parity_on_injected_corpus(spark):
    """The fixture corpora below sf0.1 hold no image near-dup across the
    batch split, so the registry parity test of the persisted twin compares
    two empty frames there. On the injected corpus of
    :func:`test_dedup_image_phash_incremental_probes_index_only` (which
    checks the in-memory twin) it finds the two batch near-dups of index
    doc 1, and the registry oracle on DuckDB returns the same rows."""
    name = "dedup_image_phash_incremental_persisted"
    got = _injected_corpus(spark, _IMAGE_INCR_ROWS, [name])[name]
    assert {(r.doc_id, r.dup_of): r.hamming for r in got.itertuples()} == {(5, 1): 1, (10, 1): 1}


# --------------------------------------------------------------------------- #
# round-11 (cont.): audio frame fingerprints + video content-anchored frames
# --------------------------------------------------------------------------- #

def test_multimodal_audio_fp_oracle_parity(spark):
    assert_query_matches_oracle(spark, "multimodal_audio_fp")


def test_dedup_audio_fingerprint_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_audio_fingerprint")


def test_multimodal_video_frames_oracle_parity(spark):
    assert_query_matches_oracle(spark, "multimodal_video_frames")


def test_dedup_video_frames_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_video_frames")


def test_audio_fingerprint_vectorized_matches_scalar_spec():
    """The numpy fingerprinter must equal the documented scalar loop
    bit-for-bit (including the empty result under one-window length)."""
    def scalar(payload: bytes) -> list[int]:
        n = len(payload)
        out = []
        for i in range((n - mm.AUDIO_FRAME_BYTES) // mm.AUDIO_HOP_BYTES + 1):
            f = payload[i * mm.AUDIO_HOP_BYTES: i * mm.AUDIO_HOP_BYTES + mm.AUDIO_FRAME_BYTES]
            h = 0
            for j in range(mm.AUDIO_FRAME_BYTES - 1):
                if f[j + 1] > f[j]:
                    h |= 1 << j
            out.append(h)
        return out

    for payload in (
        _letters("spec", 400).encode(),
        _letters("x", 32).encode(),          # exactly one window
        _letters("y", 47).encode(),          # one window + ragged tail
        b"a" * 100,                           # constant signal: all-zero bits
        bytes(range(97, 123)) * 5,            # monotone ramps
    ):
        assert mm._audio_fingerprints(payload) == scalar(payload)
    assert mm._audio_fingerprints(b"short") == []
    assert mm._video_keyframes(b"short") == []


def _letters(seed: str, n: int) -> str:
    """Deterministic non-periodic lowercase-letters string (md5 chain) — the
    payload IS the text (pure [a-z]), so injected scenarios are byte-exact."""
    import hashlib

    out: list[str] = []
    h = seed.encode()
    while len(out) < n:
        h = hashlib.md5(h).digest()
        out.extend(chr(97 + b % 26) for b in h)
    return "".join(out[:n])


def _injected_corpus(spark, rows, names):
    """Run registered queries AND their oracles over a throwaway documents
    dir; assert parity per query; return {name: engine pandas frame}."""
    import tempfile

    import duckdb

    import __spark_entry__ as e
    from tools.canon import canon_rows

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        for name in names:
            eng = e.queries()[name](spark, tmp).toPandas()
            ora = con.sql(e.oracle_sql()[name]).df()
            assert canon_rows(eng) == canon_rows(ora), name
            out[name] = eng
        con.close()
    return out


def test_dedup_audio_fingerprint_finds_edit_and_offset(spark):
    """The near-dup-injection scenario for the audio modality: a localized
    same-length edit damages only the frames whose windows overlap it (pair
    at delta 0), a hop-aligned prefix insertion shifts every frame by a
    whole number of hops (pair at exactly that delta), and an unrelated
    payload pairs with nothing."""
    base = _letters("audio-base", 400)
    edited = base[:200] + _letters("edit", 8) + base[208:]      # same length
    shifted = _letters("pad", 2 * mm.AUDIO_HOP_BYTES) + base    # +2 hops
    other = _letters("unrelated", 400)
    rows = [(1, base), (2, edited), (3, shifted), (4, other)]
    pairs = _injected_corpus(spark, rows, ["dedup_audio_fingerprint"])[
        "dedup_audio_fingerprint"
    ]
    by_pair = {(r.doc_a, r.doc_b, r.delta): r.n_aligned for r in pairs.itertuples()}
    nf = (400 - mm.AUDIO_FRAME_BYTES) // mm.AUDIO_HOP_BYTES + 1
    # edit at bytes [200, 208) can damage only windows overlapping it
    damaged = len({i for i in range(nf)
                   if i * mm.AUDIO_HOP_BYTES + mm.AUDIO_FRAME_BYTES > 200
                   and i * mm.AUDIO_HOP_BYTES < 208})
    assert by_pair.get((1, 2, 0), 0) >= nf - damaged >= mm.AUDIO_MIN_ALIGNED
    # prefix insertion of exactly 2 hops: doc 1's frame i == doc 3's frame i+2
    assert by_pair.get((1, 3, -2), 0) >= mm.AUDIO_MIN_ALIGNED
    assert not any(4 in (a, b) for a, b, _ in by_pair)


def test_dedup_video_frames_resyncs_after_length_changing_edit(spark):
    """The design point of content-anchored keyframes (vs fixed fractional
    positions): an INSERTION changes the length, yet anchors downstream of
    the edit land on the same content and re-synchronize — the pair is found
    at Jaccard >= 1/2. An unrelated payload pairs with nothing."""
    base = _letters("video-base", 600)
    inserted = base[:300] + _letters("scene", 37) + base[300:]  # length +37
    other = _letters("video-other", 600)
    rows = [(1, base), (2, inserted), (3, other)]
    pairs = _injected_corpus(spark, rows, ["dedup_video_frames"])[
        "dedup_video_frames"
    ]
    got = {(r.doc_a, r.doc_b): (r.n_shared, r.n_union) for r in pairs.itertuples()}
    assert (1, 2) in got
    n_shared, n_union = got[(1, 2)]
    assert 3 * n_shared >= n_shared + n_union  # J >= 1/2 restated on outputs
    assert not any(3 in p for p in got)


def test_dedup_audio_fingerprint_incremental_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_audio_fingerprint_incremental")


def test_neardup_modality_agreement_oracle_parity(spark):
    assert_query_matches_oracle(spark, "neardup_modality_agreement")


def test_incremental_audio_is_batch_restricted_to_new_docs(spark):
    """Contract lock: the incremental probe must equal the batch operator's
    pairs restricted to (new doc, indexed doc) — modulo the cap being
    computed on the index side only (no such hot bucket exists in the
    fixture, so equality is exact here)."""
    from tf_idf_using_mapreduce_spark.operators.dedup import INCR_BATCH_MOD

    batch = mm.dedup_audio_fingerprint(spark, SF_SMOKE).toPandas()
    incr = mm.dedup_audio_fingerprint_incremental(spark, SF_SMOKE).toPandas()
    want = set()
    for r in batch.itertuples():
        a_new, b_new = r.doc_a % INCR_BATCH_MOD == 0, r.doc_b % INCR_BATCH_MOD == 0
        if a_new and not b_new:
            want.add((r.doc_a, r.doc_b, r.delta, r.n_aligned))
        elif b_new and not a_new:
            # incremental emits (new, indexed); batch emits doc_a < doc_b
            want.add((r.doc_b, r.doc_a, -r.delta, r.n_aligned))
    got = {(r.doc_id, r.dup_of, r.delta, r.n_aligned) for r in incr.itertuples()}
    assert got == want


def test_documents_stream_phash_matches_batch_oracle(spark):
    assert_query_matches_oracle(spark, "documents_stream_phash")


def test_dedup_video_frames_incremental_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_video_frames_incremental")


def test_incremental_video_is_batch_restricted_to_new_docs(spark):
    """Same contract lock as the audio twin: incremental = batch pairs
    restricted to (new, indexed), with identical n_shared/n_union (no hot
    bucket exists in the fixture, so the index-side-only cap is invisible)."""
    from tf_idf_using_mapreduce_spark.operators.dedup import INCR_BATCH_MOD

    batch = mm.dedup_video_frames(spark, SF_SMOKE).toPandas()
    incr = mm.dedup_video_frames_incremental(spark, SF_SMOKE).toPandas()
    want = set()
    for r in batch.itertuples():
        a_new, b_new = r.doc_a % INCR_BATCH_MOD == 0, r.doc_b % INCR_BATCH_MOD == 0
        if a_new != b_new:
            new_doc, old_doc = (r.doc_a, r.doc_b) if a_new else (r.doc_b, r.doc_a)
            want.add((new_doc, old_doc, r.n_shared, r.n_union))
    got = {(r.doc_id, r.dup_of, r.n_shared, r.n_union) for r in incr.itertuples()}
    assert got == want


def test_modality_dedup_plan_shapes(spark):
    """Scale-posture plan asserts for the batch modality operators (mirrors
    the ExactSubstr pins): hot-bucket drops are BROADCAST anti-joins and
    pair stages never degenerate to cartesian/nested-loop. The incremental
    probes' broadcast pin is
    tests/test_dedup.py::test_incremental_plan_broadcasts_batch_side."""
    import re

    for fn in (mm.dedup_audio_fingerprint, mm.dedup_video_frames):
        p = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"BroadcastHashJoin .*LeftAnti", p), p[:3000]
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


# --------------------------------------------------------------------------- #
# round-11 review regressions: duplicate-row dirty data through the
# payload near-dup tiers
# --------------------------------------------------------------------------- #

def test_dedup_image_phash_no_self_pairs_on_duplicate_ids(spark):
    """Duplicate doc_ids with DIFFERENT texts (legal dirty data — the fuzz
    corpus pins the shape) hash to distinct sketches in the same band
    bucket; the engine must not pair an id with itself (the oracle's
    a.doc_id < b.doc_id join never does). Also cross-checks the oracle on
    the injected corpus."""
    import tempfile

    import duckdb

    import __spark_entry__ as e
    from tools.canon import canon_rows
    from tf_idf_using_mapreduce_spark.operators import multimodal as mm

    base = "abcdefgh" * 16  # 128 letters, decodable
    near = base[:-1] + "z"  # a few flipped grid bits, same bands
    rows = [(1, base), (1, near), (3, base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        got = mm.dedup_image_phash(spark, tmp).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        ora = con.sql(e.oracle_sql()["dedup_image_phash"]).df()
        con.close()
    assert (got["doc_a"] != got["doc_b"]).all()
    assert len(got) > 0  # the (1, 3) pairs must still surface
    assert canon_rows(got) == canon_rows(ora)


def test_dedup_audio_incremental_votes_not_multiplied_by_duplicate_rows(spark):
    """A duplicated document row duplicates every (doc_id, frame_idx, fh)
    fingerprint row; the incremental probe must dedup them (as the batch
    operator's array_distinct does) so vote counts — and the
    AUDIO_MIN_ALIGNED gate — match the batch contract exactly. Engine and
    oracle are checked on the injected corpus, and the incremental votes
    equal the batch operator's for the same pair."""
    import tempfile

    import duckdb

    import __spark_entry__ as e
    from tools.canon import canon_rows
    from tf_idf_using_mapreduce_spark.operators import multimodal as mm

    # non-periodic letters (a repeating pattern collapses every frame into
    # ONE hot fingerprint, which the batch cap then amputates entirely)
    import random as _random

    _rng = _random.Random(20260816)
    text = "".join(chr(97 + _rng.randrange(26)) for _ in range(640))
    rows = [(5, text), (5, text), (1, text)]  # doc 5 = new (x2 rows), doc 1 = index
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        inc = mm.dedup_audio_fingerprint_incremental(spark, tmp).toPandas()
        bat = mm.dedup_audio_fingerprint(spark, tmp).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        ora = con.sql(e.oracle_sql()["dedup_audio_fingerprint_incremental"]).df()
        con.close()
    assert canon_rows(inc) == canon_rows(ora)
    # the identical payloads align at delta 0; votes must equal the batch
    # operator's deduped count, not a multiple of it
    inc_row = inc[(inc.doc_id == 5) & (inc.dup_of == 1) & (inc.delta == 0)]
    bat_row = bat[(bat.doc_a == 1) & (bat.doc_b == 5) & (bat.delta == 0)]
    assert len(inc_row) == 1 and len(bat_row) == 1
    assert int(inc_row.n_aligned.iloc[0]) == int(bat_row.n_aligned.iloc[0])


# --------------------------------------------------------------------------- #
# REAL container decode through the SAME seams (round 12): genuine WAV and
# PNG payloads — synthesized with the stdlib, no media libraries — flow
# through the identical mapInPandas functions the oracled letters-payload
# tables use, and near-dup their re-encoded/edited copies. This converts the
# "stub decode" caveat into a demonstrated swap.
# --------------------------------------------------------------------------- #

def _make_wav(samples: list[int]) -> bytes:
    """A genuine RIFF/WAVE container (stdlib ``wave``): 16-bit mono PCM."""
    import io
    import struct as _struct
    import wave as _wave

    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(_struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def _make_png(pixels: bytes, width: int, height: int, filt: int = 0) -> bytes:
    """A genuine PNG (8-bit grayscale) via stdlib zlib: CRC'd chunks and
    RFC 2083 scanline filtering (``filt`` 0 = None, 2 = Up — two different
    valid ENCODINGS of the same pixels, i.e. a re-encode)."""
    import struct as _struct
    import zlib as _zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (_struct.pack(">I", len(data)) + typ + data
                + _struct.pack(">I", _zlib.crc32(typ + data) & 0xFFFFFFFF))

    ihdr = _struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b""
    prev = bytes(width)
    for y in range(height):
        line = pixels[y * width:(y + 1) * width]
        if filt == 0:
            raw += b"\x00" + line
        else:  # Up filter
            raw += b"\x02" + bytes((line[x] - prev[x]) & 0xFF for x in range(width))
        prev = line
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _zlib.compress(raw)) + chunk(b"IEND", b""))


def _gradient_pixels(width: int, height: int, invert: bool = False) -> bytes:
    if invert:
        return bytes((250 - (x * 3 + y * 2) % 251) % 256
                     for y in range(height) for x in range(width))
    return bytes(((x * 3 + y * 2) % 251) for y in range(height) for x in range(width))


def test_png_stdlib_decode_roundtrip_and_true_dimensions():
    pix = _gradient_pixels(64, 64)
    png = _make_png(pix, 64, 64, 0)
    decoded = mm._png_gray(png)
    assert decoded is not None and decoded[0] == pix and decoded[1:] == (64, 64)
    # the Up-filtered re-encode decodes to the SAME pixels from different bytes
    png2 = _make_png(pix, 64, 64, 2)
    assert png2 != png and mm._png_gray(png2)[0] == pix
    # the feature seam reports the REAL dimensions, not the md5 stub's
    width, height, _feats, _raw = mm._decode_payload(png)
    assert (width, height) == (64, 64)


def test_wav_stdlib_decode_roundtrip():
    samples = [((i * 977 + (i * i) // 37) % 20000) - 10000 for i in range(2000)]
    wav = _make_wav(samples)
    sig = mm._wav_signal(wav)
    assert sig is not None and len(sig) == 2000
    assert sig[0] == (samples[0] + 32768) >> 8  # high byte of sample 0
    # text bytes never sniff as containers: the stub path is untouched
    assert mm._wav_signal(b"plain letters payload") is None
    assert mm._png_gray(b"plain letters payload") is None


def test_real_png_near_dup_through_mapinpandas_seam(spark):
    pix = _gradient_pixels(64, 64)
    payloads = spark.createDataFrame(
        [(0, bytearray(_make_png(pix, 64, 64, 0))),       # original
         (1, bytearray(_make_png(pix, 64, 64, 2))),       # re-encode (Up filter)
         (2, bytearray(_make_png(_gradient_pixels(64, 64, invert=True), 64, 64, 0)))],
        "doc_id long, payload binary",
    )
    ph = mm.phash_frames(payloads)   # the SAME seam the oracled table uses
    rows = {r["doc_id"]: (r["ph_hi"], r["ph_lo"]) for r in ph.collect()}
    assert rows[0] == rows[1] and rows[0] != rows[2]
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in mm.phash_near_dup_pairs(ph).collect()}
    assert pairs == {(0, 1): 0}  # re-encode found; different image not paired


def test_real_wav_near_dup_through_mapinpandas_seam(spark):
    track = [((i * 977 + (i * i) // 37) % 20000) - 10000 for i in range(2000)]
    edited = list(track)
    for i in range(400, 440):    # a localized dropout edit
        edited[i] = 0
    other = [((i * 353 + (i * i * i) // 911) % 20000) - 10000 for i in range(2000)]
    payloads = spark.createDataFrame(
        [(0, bytearray(_make_wav(track))),
         (1, bytearray(_make_wav(edited))),
         (2, bytearray(_make_wav(other)))],
        "doc_id long, payload binary",
    )
    fps = mm.audio_fp_frames(payloads)  # the SAME seam the oracled table uses
    pairs = {(r["doc_a"], r["doc_b"], r["delta"]): r["n_aligned"]
             for r in mm.audio_align_pairs(fps).collect()}
    assert (0, 1, 0) in pairs, pairs
    assert pairs[(0, 1, 0)] >= 100      # most of the 124 frames still vote
    assert not any(2 in (a, b) for a, b, _ in pairs)  # the other track is clean


def _gif_lzw_encode(indices: bytes, min_code_size: int = 8) -> bytes:
    """Valid GIF LZW stream via the classic no-compression trick: emit only
    literal codes at ``min_code_size + 1`` bits, inserting CLEAR before the
    growing table would widen the code — every decoder accepts it."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    width = min_code_size + 1
    codes = [clear]
    since_clear = 0
    for b in indices:
        if since_clear >= 250:   # table would reach 2**9 soon: reset
            codes.append(clear)
            since_clear = 0
        codes.append(b)
        since_clear += 1
    codes.append(eoi)
    acc = nbits = 0
    out = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _make_gif(frames: list[bytes], width: int, height: int) -> bytes:
    """A genuine multi-frame GIF89a (stdlib-only): 256-entry grayscale
    global palette (r=g=b=i, so decoded luma == the index byte), full-screen
    non-interlaced frames."""
    import struct as _struct

    out = bytearray(b"GIF89a")
    out += _struct.pack("<HH", width, height)
    out += bytes([0x80 | 0x07, 0, 0])          # GCT present, 256 entries
    for i in range(256):
        out += bytes([i, i, i])
    for frame in frames:
        out += b"\x2C" + _struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out += bytes([8])                       # LZW min code size
        data = _gif_lzw_encode(frame)
        for off in range(0, len(data), 255):
            chunk = data[off:off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


def _gif_frame(f: int, width: int = 64, height: int = 64, base: int = 0) -> bytes:
    return bytes((x * 7 + y * 3 + 17 * f + base) % 251
                 for y in range(height) for x in range(width))


def test_gif_stdlib_decode_roundtrip():
    frames = [_gif_frame(f) for f in range(3)]
    gif = _make_gif(frames, 64, 64)
    decoded = mm._gif_gray_frames(gif)
    assert decoded is not None and decoded == frames
    assert mm._gif_gray_frames(b"plain letters payload") is None
    # keyframes: one per frame, hashed over the REAL pixels
    keys = mm._video_keyframes(gif)
    assert [k[0] for k in keys] == [0, 1, 2]
    assert keys[0][1:] == mm._phash64(frames[0])


def test_real_gif_recut_near_dup_through_mapinpandas_seam(spark):
    frames = [_gif_frame(f) for f in range(12)]
    recut = list(reversed(frames[2:]))           # drop 2 scenes, reverse order
    other = [_gif_frame(f, base=120) for f in range(12)]
    payloads = spark.createDataFrame(
        [(0, bytearray(_make_gif(frames, 64, 64))),
         (1, bytearray(_make_gif(recut, 64, 64))),
         (2, bytearray(_make_gif(other, 64, 64)))],
        "doc_id long, payload binary",
    )
    vfh = mm.video_keyframe_frames(payloads)  # the SAME seam as the oracled table
    pairs = {(r["doc_a"], r["doc_b"]): (r["n_shared"], r["n_union"])
             for r in mm.video_set_pairs(vfh).collect()}
    # the re-cut shares 10 of 12 scenes: Jaccard 10/12 >= 1/2, found once;
    # the unrelated video pairs with nothing
    assert pairs == {(0, 1): (10, 12)}, pairs


# --------------------------------------------------------------------------- #
# Decoder robustness (r12 self-review follow-up): a production binary column
# carries arbitrary junk — truncated containers, bit-flipped headers, random
# bytes. Every decode seam must treat ALL of it as either a valid decode or
# "not this format" (stub/skip), NEVER an exception: one malformed payload
# must not kill a 100 TB near-dup job's task.
# --------------------------------------------------------------------------- #

def _assert_seams_never_raise(payload: bytes) -> None:
    ph = mm._phash64(payload)
    assert ph is None or (isinstance(ph, tuple) and len(ph) == 2)
    assert isinstance(mm._audio_fingerprints(payload), list)
    assert isinstance(mm._video_keyframes(payload), list)
    w, h, feats, raw = mm._decode_payload(payload)
    assert isinstance(w, int) and isinstance(h, int) and len(raw) == 4


def test_decoders_survive_random_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=0, max_size=512))
    def run(payload):
        _assert_seams_never_raise(payload)

    run()


def test_decoders_survive_corrupted_real_containers():
    """Every truncation point and a sweep of single-byte corruptions of
    genuine PNG/WAV/GIF payloads: decode fully, or return None/[]/stub —
    never raise."""
    pix = _gradient_pixels(16, 16)
    png = _make_png(pix, 16, 16, 0)
    wav = _make_wav([((i * 977) % 20000) - 10000 for i in range(200)])
    gif = _make_gif([_gif_frame(f, 16, 16) for f in range(2)], 16, 16)
    for base in (png, wav, gif):
        for cut in range(0, len(base), 7):
            _assert_seams_never_raise(base[:cut])
        for pos in range(0, len(base), 11):
            corrupted = base[:pos] + bytes([base[pos] ^ 0xFF]) + base[pos + 1:]
            _assert_seams_never_raise(corrupted)
    # magic-only prefixes (headers with nothing behind them)
    for stub in (b"\x89PNG\r\n\x1a\n", b"RIFF\x00\x00\x00\x00WAVE", b"GIF89a",
                 b"GIF89a\x10\x00\x10\x00", b"RIFF", b"\x89PNG"):
        _assert_seams_never_raise(stub)
