"""Multimodal-column operators (north-star C4).

Images/audio/video are opaque `binary` columns with typed metadata structs —
the lakehouse pattern for multimodal training data. Five decode kernels are
REAL parsers (RIFF/PCM WAV, 24-bit BMP, 8-bit RGB PNG, uncompressed RGB24
AVI video with every-k-th frame sampling, and full BASELINE JPEG — marker
walk, in-file DQT/DHT tables, byte-stuffed huffman scan decode, IDCT,
YCbCr→RGB — all struct/zlib/numpy only, each oracle-hash-verified against
closed-form fixtures); only external-codec formats (progressive JPEG,
H.26x, webp) stay an honest env-stub (no codec libs in this container,
clearly marked). All the Spark-owned plumbing is real and tested either
way: schema (BinaryType + StructType metadata), Arrow batch transfer
through `mapInPandas`, partition behavior, and UDF signatures.

Scale notes: decode/feature-extract runs as `mapInPandas` — per-partition
Arrow batches into Python, the one place Python in the hot path is justified
(CPU-bound codec work). Batch size is controlled by
`spark.sql.execution.arrow.maxRecordsPerBatch`; blobs never pass through the
driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_iceberg_demo_spark.caching import keep_result
from apache_iceberg_demo_spark.io import load
from apache_iceberg_demo_spark.registry import register


# the codec kernels' fan-out (found via the scale probe's 1x/2x inversion,
# see PLANS.md) is shared repo-wide from tuning.py
from apache_iceberg_demo_spark.tuning import cpu_spread as _cpu_spread


def real_image_decode(blob: bytes) -> object:
    """The any-format decode kernel — requires an image codec library.

    Not available in this container (no PIL/cv2). Five formats are decoded
    for REAL instead with stdlib+numpy parsers: `wav_pcm_decode`,
    `bmp24_decode`, `png_rgb8_decode`, `avi_rgb24_decode`, and
    `jpeg_baseline_decode` (full baseline JFIF incl. huffman + IDCT).
    This stub remains only for formats that genuinely need external
    codecs (progressive JPEG, H.26x, webp, ...).
    """
    try:
        import PIL.Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires PIL/cv2 (not in this environment); "
            "the Spark-side plumbing uses the deterministic stub instead"
        ) from e
    raise NotImplementedError("wire PIL.Image.open(io.BytesIO(blob)) here")


def multimodal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a multimodal table from `documents`: text bytes stand in
    for an encoded image blob; metadata is a typed struct derived
    deterministically (as EXIF/codec headers would be)."""
    d = load(spark, sf_dir, "documents")
    blob = F.encode("text", "utf-8")
    return d.select(
        "doc_id",
        blob.alias("image"),
        F.struct(
            (F.pmod(F.col("doc_id"), F.lit(4)) * 256 + 256).cast("int").alias("width"),
            (F.pmod(F.col("doc_id"), F.lit(3)) * 256 + 256).cast("int").alias("height"),
            F.when(F.pmod("doc_id", F.lit(2)) == 0, "png").otherwise("jpeg").alias("codec"),
        ).alias("meta"),
        F.length(blob).cast("bigint").alias("n_bytes"),
    )


@register(
    "c4_multimodal_metadata",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               CAST((doc_id % 4) * 256 + 256 AS INT) AS width,
               CAST((doc_id % 3) * 256 + 256 AS INT) AS height,
               CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS codec
        FROM documents
        WHERE (doc_id % 4) * 256 + 256 >= 512
    """,
)
def c4_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: typed-metadata projection + predicate over a binary-column table
    (struct field access prunes — the blob column is never read)."""
    mm = multimodal_table(spark, sf_dir)
    return mm.filter(F.col("meta.width") >= 512).select(
        "doc_id",
        "n_bytes",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.codec").alias("codec"),
    )


@register("c4_phash_near_dup")  # rows-only: hash-family internals not ANSI SQL
def c4_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: perceptual-hash near-dup over the binary modality — the image-
    dedup stage of a multimodal training pipeline.

    A real pipeline computes pHash/dHash from decoded pixels; with codecs
    stubbed, a deterministic 64-bit signature over 8 content stripes of the
    BLOB stands in (same bit-banding math either way — the Spark plumbing is
    what's under test). Pigeonhole banding on 4×16-bit chunks guarantees
    recall for hamming ≤ 3, exactly like SimHash text dedup
    (operators/dedup.py) — the join is equi on chunk values, never O(n²) in
    the corpus, and blobs never enter the shuffle (64-bit signatures only)."""
    m = multimodal_table(spark, sf_dir)
    # 8 stripes × 8 bits: stripe k's byte-slice hash contributes one byte
    stripe = lambda k: F.xxhash64(  # noqa: E731
        F.substring(F.col("image"), k * 16 + 1, 16), F.lit(k)
    )
    sig = F.lit(0).cast("bigint")
    for k in range(8):
        sig = sig.bitwiseXOR(F.shiftleft(F.pmod(stripe(k), F.lit(256)), k * 8))
    sigs = m.select("doc_id", sig.alias("phash"))
    chunks = sigs.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned("phash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "phash", "c.chunk_idx", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.phash").alias("ph_a"),
            F.col("b.phash").alias("ph_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


#: CDC gear-hash parameters. Sliding-WINDOW gear (outgoing byte subtracted):
#: the boundary decision depends on the last W=16 bytes ONLY, independent of
#: chunk start — that bounded memory is what re-syncs boundaries after an
#: insert. Three designs measured on this corpus before this one: plain gear
#: + low-bit mask never fires on repetitive text (low bits cycle — FastCDC's
#: reason for high-bit masks); gear + high-bit mask fires but never re-syncs
#: (unbounded memory per chunk: shared chunks ≈ 0); windowed gear shares
#: n-1..n-3 of n chunks across an insert mutation.
CDC_W, CDC_SHIFT, CDC_MIN, CDC_MAX = 16, 59, 16, 256  # p(boundary)≈1/32 per byte
_M64 = 0xFFFFFFFFFFFFFFFF


def _gear_table() -> list:
    import hashlib

    return [
        int.from_bytes(hashlib.md5(bytes([b])).digest()[:8], "big")
        & 0x7FFFFFFFFFFFFFFF
        for b in range(256)
    ]


_GEAR = _gear_table()


def gear_chunks(data: bytes) -> list:
    """Content-defined chunk list [(offset, length, sha1_hex), ...] for a
    blob — pure function, property-tested in tests/test_properties.py."""
    import hashlib

    out, start, h = [], 0, 0
    for i, byte in enumerate(data):
        h = ((h << 1) + _GEAR[byte]) & _M64
        if i >= CDC_W:
            h = (h - ((_GEAR[data[i - CDC_W]] << CDC_W) & _M64)) & _M64
        clen = i + 1 - start
        if (clen >= CDC_MIN and (h >> CDC_SHIFT) == 0) or clen >= CDC_MAX:
            out.append((start, clen, hashlib.sha1(data[start : i + 1]).hexdigest()))
            start = i + 1
    if start < len(data) or not data:
        out.append((start, len(data) - start, hashlib.sha1(data[start:]).hexdigest()))
    return out


@register("c4_content_defined_chunking")  # rows-only: rolling-hash kernel in Arrow batches
def c4_content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: content-defined chunking (CDC) over binary blobs — gear rolling
    hash, boundary where `hash & mask == 0` (min/max chunk bounds), SHA-1 of
    each chunk. The sub-file dedup primitive behind every dedup store: a
    byte INSERTED into a blob only re-chunks its neighborhood, so unchanged
    content keeps its chunk hashes and dedups against the store — fixed-size
    chunking would shift every later boundary and dedup nothing.

    Per-byte work is the honest pandas/mapInPandas tier (a Python loop per
    blob inside Arrow batches; a JVM HOF would be interpreted per element
    anyway). Self-verified three ways: chunks of every blob reassemble to
    its exact length with contiguous offsets; a planted duplicate blob
    yields the identical chunk-hash sequence; a planted INSERT-corrupted
    copy still shares most chunk hashes with its original (the locality
    property fixed-size chunking lacks)."""
    from apache_iceberg_demo_spark.io import load as _load

    d = _load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("blob")
    )
    # planted vectors: an exact copy and an insert-mutated copy of doc 0
    base = d.filter(F.col("doc_id") == 0).select("blob").collect()[0]["blob"]
    planted = spark.createDataFrame(
        [
            (1_000_000, bytearray(base)),
            (1_000_001, bytearray(base[:20] + b"XYZZY" + base[20:])),
        ],
        "doc_id bigint, blob binary",
    )
    # (cpu_spread measured a wash here — fresh-process A/B at sf0.1: the
    # wall is the multi-action self-verification over the cached chunks,
    # not the chunker, so the input is deliberately NOT spread)
    blobs = d.unionByName(planted)

    def chunker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, lens, hashes = [], [], [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                for idx, (off, clen, digest) in enumerate(gear_chunks(bytes(blob))):
                    ids.append(doc_id); idxs.append(idx)
                    offs.append(off); lens.append(clen); hashes.append(digest)
            yield pd.DataFrame(
                {"doc_id": ids, "chunk_idx": idxs, "offset": offs,
                 "length": lens, "chunk_hash": hashes}
            )

    chunks = blobs.mapInPandas(
        chunker,
        schema="doc_id bigint, chunk_idx int, offset int, length int, chunk_hash string",
    ).cache()
    try:
        # (1) exact reassembly: contiguous offsets, lengths sum to blob size
        recon = chunks.groupBy("doc_id").agg(
            F.sum("length").alias("total"),
            F.count("*").alias("n_chunks"),
            F.max(F.col("offset") + F.col("length")).alias("end"),
        )
        sizes = blobs.select("doc_id", F.length("blob").alias("n_bytes"))
        bad = recon.join(sizes, "doc_id").filter(
            (F.col("total") != F.col("n_bytes")) | (F.col("end") != F.col("n_bytes"))
        )
        if bad.count() > 0:
            raise AssertionError("CDC chunks do not reassemble to blob length")

        # one collect for all three probe sequences (was 3 filter+collect
        # round-trips)
        seqs: dict = {0: [], 1_000_000: [], 1_000_001: []}
        probe = (
            chunks.filter(F.col("doc_id").isin(*seqs))
            .select("doc_id", "chunk_idx", "chunk_hash")
            .collect()
        )
        for r in sorted(probe, key=lambda r: (r["doc_id"], r["chunk_idx"])):
            seqs[r["doc_id"]].append(r["chunk_hash"])
        orig, dup, mut = seqs[0], seqs[1_000_000], seqs[1_000_001]
        if orig != dup:
            raise AssertionError("identical blobs produced different chunk hashes")
        shared = len(set(orig) & set(mut))
        if shared < max(1, len(orig) - 3):
            raise AssertionError(
                f"insert mutation destroyed chunk locality: {shared}/{len(orig)} shared"
            )
        # materialize + persist the tiny summary BEFORE releasing the chunk
        # cache it is built on — unpersisting first made a consumer's
        # count()+collect() re-run the whole chunker pipeline twice
        result = (
            chunks.groupBy("doc_id")
            .agg(
                F.count("*").cast("bigint").alias("n_chunks"),
                F.sum("length").cast("bigint").alias("n_bytes"),
                F.countDistinct("chunk_hash").cast("bigint").alias("n_unique_chunks"),
            )
            .orderBy("doc_id")
        )
        return keep_result("c4_content_defined_chunking", result)
    finally:
        chunks.unpersist()


@register(
    "c4_patch_extraction",
    # The blobs are the documents' utf-8 text bytes (multimodal_table), so
    # the tiling geometry is pure arithmetic on octet_length: ceil(n/64)
    # patches of (idx, offset, min(64, n - offset)). Byte-exact reassembly
    # of the actual patch CONTENT stays the in-query md5 audit.
    oracle="""
        WITH src AS (SELECT doc_id, octet_length(encode(text)) AS n
                     FROM documents),
        p AS (
            SELECT doc_id, n,
                   unnest(generate_series(0, CAST(ceil(n / 64.0) AS BIGINT) - 1))
                       AS patch_idx
            FROM src
        )
        SELECT doc_id, patch_idx,
               CAST(patch_idx * 64 AS BIGINT) AS "offset",
               CAST(least(64, n - patch_idx * 64) AS BIGINT) AS patch_len
        FROM p
    """,
)
def c4_patch_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 (oracle-paired): patch/tile extraction — each blob fans out into fixed 64-byte
    patches with (patch_idx, offset), the ViT-style tiling stage run as
    ``mapInPandas`` (Arrow batches in, MORE rows out than in — the fan-out
    shape). The pixel-decode step is the documented stub (no codec libs in
    this container); byte ranges stand in for pixel tiles, and every piece
    of Spark plumbing — schema with BinaryType, Arrow transfer, fan-out
    cardinality, ordered reassembly — is real and verified.

    Self-verifying: patches reassembled in patch_idx order are
    md5-identical to the source blob for EVERY document, and the patch
    count equals ceil(n_bytes/64) exactly.

    Scale: fan-out happens executor-side per Arrow batch; patches carry
    their provenance (doc_id, offset) so downstream shuffles can route by
    doc or by patch; nothing returns to the driver but the audit counts.
    """
    PATCH = 64
    from collections.abc import Iterator as _It

    mm = multimodal_table(spark, sf_dir)

    def tile(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "patch_idx": [], "offset": [], "patch": []}
            for did, blob in zip(pdf["doc_id"], pdf["image"]):
                b = bytes(blob)
                for i in range(0, len(b), PATCH):
                    out["doc_id"].append(did)
                    out["patch_idx"].append(i // PATCH)
                    out["offset"].append(i)
                    out["patch"].append(b[i : i + PATCH])
            yield pd.DataFrame(out)

    patches = mm.select("doc_id", "image").mapInPandas(
        tile, "doc_id bigint, patch_idx bigint, offset bigint, patch binary"
    )
    reassembled = patches.groupBy("doc_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("patch_idx", "patch"))),
                lambda x: x["patch"],
            ),
            F.lit(b""),
            lambda acc, p: F.concat(acc, p),
        ).alias("rebuilt"),
        F.count("*").alias("n_patches"),
    )
    audit = reassembled.join(mm.select("doc_id", "image", "n_bytes"), "doc_id")
    bad = audit.where(
        (F.md5("rebuilt") != F.md5("image"))
        | (F.col("n_patches") != F.ceil(F.col("n_bytes") / PATCH))
    ).count()
    if bad:
        raise AssertionError(f"{bad} documents failed byte-exact reassembly")
    return patches.select(
        "doc_id", "patch_idx", "offset", F.length("patch").alias("patch_len")
    )


@register(
    "pipeline_multimodal_prep",
    # The CAS ledger is relational because patches are byte slices of the
    # documents' utf-8 text (ASCII in every testdata vintage — asserted
    # loudly in-query, round-4 drift class): distinct 64-char substrings ==
    # distinct 64-byte patches. The md5 reassembly audit stays in-query.
    oracle="""
        WITH src AS (SELECT doc_id, text, length(text) AS n FROM documents),
        p AS (
            SELECT doc_id, n,
                   substring(text, CAST(i * 64 + 1 AS BIGINT), 64) AS patch
            FROM src,
                 unnest(generate_series(0, CAST(ceil(n / 64.0) AS BIGINT) - 1))
                     AS t(i)
        ),
        tot AS (SELECT count(*) AS n_patches, sum(length(patch)) AS total_bytes
                FROM p),
        st AS (SELECT count(*) AS n_stored, sum(length(patch)) AS stored_bytes
               FROM (SELECT DISTINCT patch FROM p))
        SELECT CAST(n_patches AS BIGINT) AS n_patches,
               CAST(n_stored AS BIGINT) AS n_stored,
               CAST(total_bytes AS BIGINT) AS total_bytes,
               CAST(stored_bytes AS BIGINT) AS stored_bytes,
               round(1 - CAST(stored_bytes AS DOUBLE) / total_bytes, 6)
                   AS bytes_saved_ratio,
               TRUE AS cas_roundtrip_exact
        FROM tot, st
    """,
)
def pipeline_multimodal_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline capstone for the C4 surface: blobs → fixed 64-byte patches →
    content-addressed store. The store keeps ONE copy of every distinct
    patch (first occurrence); each document keeps only its (patch_idx →
    hash) index. This is the dedup storage layout a multimodal corpus uses
    so shared tiles/headers/frames are stored once.

    End-to-end verification — the property that makes a CAS trustworthy:
    EVERY document, reassembled purely from its index joined against the
    deduplicated store, is md5-identical to its source blob. Plus
    bookkeeping: store size == distinct patch-hash count, and bytes saved
    == total patch bytes − store bytes.

    Scale: patching fans out executor-side (mapInPandas); the store build is
    one hash-aggregate on the 16-byte content hash (min_by keeps the
    first-occurrence bytes); reassembly is an index→store equi-join on the
    hash — every stage shuffles hashes and indices, never whole blobs
    except the single stored copy per distinct patch.
    """
    PATCH = 64
    from collections.abc import Iterator as _It

    mm = multimodal_table(spark, sf_dir)

    # The DuckDB oracle equates 64-CHAR substrings with 64-BYTE patches,
    # which holds only while the corpus is pure ASCII (true for every
    # testdata vintage so far). Fail loudly if that drifts rather than
    # letting the parity gate report a confusing hash mismatch.
    d = load(spark, sf_dir, "documents")
    non_ascii = d.where(F.octet_length("text") != F.length("text")).count()
    if non_ascii:
        raise AssertionError(
            f"testdata drift: {non_ascii} non-ASCII documents — the "
            "pipeline_multimodal_prep oracle's char==byte slicing "
            "assumption no longer holds; re-derive the oracle"
        )

    def tile(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "patch_idx": [], "patch": []}
            for did, blob in zip(pdf["doc_id"], pdf["image"]):
                b = bytes(blob)
                for i in range(0, len(b), PATCH):
                    out["doc_id"].append(did)
                    out["patch_idx"].append(i // PATCH)
                    out["patch"].append(b[i : i + PATCH])
            yield pd.DataFrame(out)

    patches = mm.select("doc_id", "image").mapInPandas(
        tile, "doc_id bigint, patch_idx bigint, patch binary"
    ).withColumn("h", F.sha2("patch", 256))

    # content-addressed store: one copy per distinct hash (first occurrence
    # by (doc_id, patch_idx) for determinism)
    store = patches.groupBy("h").agg(
        F.min_by("patch", F.struct("doc_id", "patch_idx")).alias("patch"),
        F.count("*").alias("refs"),
    )
    index = patches.select("doc_id", "patch_idx", "h")

    # reassemble EVERY document through the store and compare to the source
    rebuilt = (
        index.join(store.select("h", "patch"), "h")
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("patch_idx", "patch"))),
                    lambda x: x["patch"],
                ),
                F.lit(b""),
                lambda acc, p: F.concat(acc, p),
            ).alias("rebuilt")
        )
    )
    bad = (
        rebuilt.join(mm.select("doc_id", "image"), "doc_id")
        .where(F.md5("rebuilt") != F.md5("image"))
        .count()
    )
    if bad:
        raise AssertionError(f"{bad} documents failed CAS reassembly")

    stats = patches.agg(
        F.count("*").alias("n_patches"),
        F.sum(F.length("patch")).alias("total_bytes"),
    ).collect()[0]
    st = store.agg(
        F.count("*").alias("n_stored"),
        F.sum(F.length("patch")).alias("stored_bytes"),
    ).collect()[0]
    distinct_hashes = patches.select("h").distinct().count()
    if st["n_stored"] != distinct_hashes:
        raise AssertionError("store size != distinct patch hashes")
    return spark.createDataFrame(
        [
            (
                int(stats["n_patches"]),
                int(st["n_stored"]),
                int(stats["total_bytes"]),
                int(st["stored_bytes"]),
                round(1 - st["stored_bytes"] / stats["total_bytes"], 6),
                True,
            )
        ],
        "n_patches bigint, n_stored bigint, total_bytes bigint, stored_bytes bigint, "
        "bytes_saved_ratio double, cas_roundtrip_exact boolean",
    )


# ---------------------------------------------------------------------------
# REAL decode kernels. WAV/PCM and 24-bit BMP need no codec library — both
# containers parse with struct + numpy — so unlike the jpeg/png/video stubs
# above, these two operators run GENUINE format decoding distributed through
# mapInPandas, and their features carry full DuckDB value-hash oracles: the
# synthesized fixtures are closed-form in doc_id, so the oracle knows what a
# CORRECT decoder must report (a parser bug — wrong stride, forgotten
# bottom-up flip, misread fmt chunk — flips the hash).

_WAV_SR, _WAV_N = 8000, 800


def wav_pcm_encode(doc_id: int) -> bytes:
    """Mono 16-bit PCM RIFF/WAVE blob: a pure sine whose frequency and
    amplitude derive from doc_id. freq = 200 + (doc_id%8)·100 Hz is an
    INTEGER number of cycles over the 0.1 s window (freq·N/SR = freq/10),
    so the decoder's FFT bin is leakage-free and the dominant frequency is
    exactly recoverable; amp = 0.25 + (doc_id%4)·0.15 keeps int16 headroom."""
    import struct

    import numpy as np

    freq = 200 + (doc_id % 8) * 100
    amp = 0.25 + (doc_id % 4) * 0.15
    t = np.arange(_WAV_N, dtype=np.float64) / _WAV_SR
    x = np.round(amp * 32767.0 * np.sin(2.0 * np.pi * freq * t)).astype("<i2")
    data = x.tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, _WAV_SR, _WAV_SR * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def wav_pcm_decode(blob: bytes) -> tuple:
    """REAL RIFF/WAVE parser: validates the RIFF/WAVE magics, walks the
    chunk list (word-aligned, tolerating unknown chunks), requires
    PCM/mono/16-bit from the fmt chunk, and returns (sample_rate,
    float64 samples scaled to [-1, 1])."""
    import struct

    import numpy as np

    if blob[0:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    pos, sr, bits, channels, samples = 12, None, None, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        csize = struct.unpack("<I", blob[pos + 4 : pos + 8])[0]
        body = blob[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            fmt, channels, sr, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if fmt != 1:
                raise ValueError("not PCM")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2").astype(np.float64) / 32767.0
        pos += 8 + csize + (csize & 1)  # RIFF chunks are word-aligned
    if sr is None or samples is None or channels != 1 or bits != 16:
        raise ValueError("missing/unsupported fmt or data chunk")
    return sr, samples


@register(
    "c4_wav_pcm_decode",
    oracle="""
        SELECT doc_id,
               800  AS n_samples,
               8000 AS sample_rate,
               CAST(200 + (doc_id % 8) * 100 AS DOUBLE) AS dominant_freq_hz,
               TRUE AS rms_within_tol
        FROM documents
    """,
)
def c4_wav_pcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: REAL audio decode — synth-encode a PCM WAV per document, then
    run a genuine RIFF parser + numpy feature extraction (sample count,
    header sample rate, FFT dominant frequency, RMS) inside mapInPandas
    Arrow batches. Unlike the frame-sample env-stub this is not a fake: a
    wrong chunk walk, byte order, or scale factor fails the value hash,
    because the oracle states what a correct decoder must recover from the
    closed-form fixture (dominant bin is leakage-free by construction; RMS
    of a quantized integer-cycle sine is amp/sqrt(2) to ~1e-5, asserted in
    the rms_within_tol column at 1e-3).

    Scale: the kernel is per-row CPU work over Arrow batches — the honest
    distributed tier for codec work (same shape the PIL/ffmpeg kernels would
    use); blobs are created and consumed inside the executor, never
    shuffled, never driver-side."""
    import numpy as np

    d = _cpu_spread(load(spark, sf_dir, "documents").select("doc_id"))

    def synth_and_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                sr, x = wav_pcm_decode(wav_pcm_encode(did))
                n = len(x)
                rms = float(np.sqrt(np.mean(x * x)))
                spec = np.abs(np.fft.rfft(x))
                dom_hz = (int(np.argmax(spec[1:])) + 1) * sr / n
                amp = 0.25 + (did % 4) * 0.15
                rows.append(
                    (
                        did,
                        n,
                        sr,
                        float(dom_hz),
                        abs(rms * 2.0**0.5 - amp) <= 1e-3,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_samples",
                    "sample_rate",
                    "dominant_freq_hz",
                    "rms_within_tol",
                ],
            )

    return d.mapInPandas(
        synth_and_decode,
        schema="doc_id bigint, n_samples int, sample_rate int, "
        "dominant_freq_hz double, rms_within_tol boolean",
    )


def bmp24_encode(doc_id: int) -> bytes:
    """24-bit uncompressed (BI_RGB) BMP blob, bottom-up rows with 4-byte
    stride padding: a solid body color plus a DISTINCT top-row color.
    Widths 4..8 exercise every stride pad (0..3 bytes); the distinct top
    row forces the decoder to undo the bottom-up row order (in the file the
    top row is stored LAST)."""
    import struct

    w = 4 + doc_id % 5
    h = 3 + doc_id % 3
    body = bytes((doc_id % 251, (7 * doc_id) % 251, (13 * doc_id) % 251))  # B,G,R
    top = bytes(((3 * doc_id) % 251, (11 * doc_id) % 251, (17 * doc_id) % 251))
    pad = (-3 * w) % 4
    data = (body * w + b"\0" * pad) * (h - 1) + (top * w + b"\0" * pad)
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
        + data
    )


def bmp24_decode(blob: bytes):
    """REAL BMP parser: magic, pixel-array offset from the file header,
    24 bpp + BI_RGB only, positive height = bottom-up; returns an
    (h, w, 3) uint8 array in B,G,R channel order with row 0 = TOP row
    (the bottom-up storage order undone)."""
    import struct

    import numpy as np

    if blob[:2] != b"BM":
        raise ValueError("not a BMP blob")
    off = struct.unpack("<I", blob[10:14])[0]
    w, h = struct.unpack("<ii", blob[18:26])
    planes, bpp = struct.unpack("<HH", blob[26:30])
    comp = struct.unpack("<I", blob[30:34])[0]
    if bpp != 24 or comp != 0 or planes != 1 or h <= 0 or w <= 0:
        raise ValueError("unsupported BMP variant")
    stride = (3 * w + 3) // 4 * 4
    arr = np.frombuffer(blob[off : off + stride * h], dtype=np.uint8)
    arr = arr.reshape(h, stride)[:, : 3 * w].reshape(h, w, 3)
    return arr[::-1]


@register(
    "c4_bmp_decode",
    oracle="""
        SELECT doc_id,
               CAST(4 + doc_id % 5 AS INT) AS width,
               CAST(3 + doc_id % 3 AS INT) AS height,
               CAST((3 * doc_id) % 251 AS DOUBLE)  AS top_row_blue,
               CAST(doc_id % 251 AS DOUBLE)        AS body_blue,
               CAST((13 * doc_id) % 251 AS DOUBLE) AS body_red
        FROM documents
    """,
)
def c4_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: REAL image decode — synth-encode a 24-bit BMP per document, then
    run a genuine BMP parser (header offsets, stride padding, BGR order,
    bottom-up row flip) inside mapInPandas and report header dims + channel
    means per region. The oracle knows the closed-form fixture, so a parser
    that forgets the row flip (top_row vs body swap), miscomputes the
    stride (pad bytes bleed into pixels), or confuses B/R order fails the
    value hash. Same distributed shape as c4_wav_pcm_decode."""
    import numpy as np  # noqa: F401  (kernel uses numpy via bmp24_decode)

    d = _cpu_spread(load(spark, sf_dir, "documents").select("doc_id"))

    def synth_and_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                arr = bmp24_decode(bmp24_encode(did))
                h, w = arr.shape[0], arr.shape[1]
                rows.append(
                    (
                        did,
                        w,
                        h,
                        float(arr[0, :, 0].mean()),
                        float(arr[1:, :, 0].mean()),
                        float(arr[1:, :, 2].mean()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "top_row_blue",
                    "body_blue",
                    "body_red",
                ],
            )

    return d.mapInPandas(
        synth_and_decode,
        schema="doc_id bigint, width int, height int, "
        "top_row_blue double, body_blue double, body_red double",
    )


# PNG geometry/content parameters, closed-form in doc_id (same pattern as
# the WAV/BMP fixtures above). Gradients are chosen so no channel value
# wraps past 255: base <= 199, x-slope*(w-1) + y-slope*(h-1) <= 33.
_PNG_W = lambda d: 4 + d % 5  # noqa: E731
_PNG_H = lambda d: 3 + d % 3  # noqa: E731
#: per-channel (base(doc_id), x-slope, y-slope)
_PNG_CH = (
    (lambda d: d % 200, 1, 2),  # R
    (lambda d: (7 * d) % 200, 2, 1),  # G
    (lambda d: (13 * d) % 200, 3, 3),  # B
)


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
    the linear estimate a + b − c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_rgb8_encode(doc_id: int) -> bytes:
    """8-bit RGB PNG blob built from scratch (stdlib zlib only): IHDR,
    zlib-compressed filtered scanlines split across TWO IDAT chunks (the
    spec allows it and a correct decoder must concatenate before
    inflating), IEND, each chunk CRC32-stamped. Scanline y uses filter
    type y % 5, so every PNG filter (None/Sub/Up/Average/Paeth) is
    exercised and the decoder must implement all five inverse filters —
    the forward filter here is applied for real, byte for byte."""
    import struct
    import zlib

    w, h = _PNG_W(doc_id), _PNG_H(doc_id)
    bpp = 3
    raws = []
    for y in range(h):
        row = bytearray()
        for x in range(w):
            for base, kx, ky in _PNG_CH:
                row.append(base(doc_id) + kx * x + ky * y)
        raws.append(bytes(row))

    stream = bytearray()
    for y, raw in enumerate(raws):
        ft = y % 5
        prior = raws[y - 1] if y else bytes(len(raw))
        out = bytearray()
        for i, v in enumerate(raw):
            left = raw[i - bpp] if i >= bpp else 0
            up = prior[i]
            upleft = prior[i - bpp] if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(left, up, upleft)
            out.append((v - pred) & 0xFF)
        stream.append(ft)
        stream.extend(out)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    comp = zlib.compress(bytes(stream), 6)
    mid = max(1, len(comp) // 2)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", comp[:mid])
        + chunk(b"IDAT", comp[mid:])
        + chunk(b"IEND", b"")
    )


def png_rgb8_decode(blob: bytes):
    """REAL PNG parser (stdlib zlib): signature check, chunk walk with
    CRC32 VERIFICATION per chunk, IHDR validation (8-bit, color type 2
    truecolor, no interlace), multi-IDAT concatenation, zlib inflate, and
    the per-scanline inverse of all five PNG filters (None/Sub/Up/Average/
    Paeth, RFC 2083 §6). Returns an (h, w, 3) uint8 array in R,G,B order."""
    import struct
    import zlib

    import numpy as np

    if blob[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG blob")
    pos, w = 8, None
    idat = bytearray()
    while pos + 8 <= len(blob):
        clen = struct.unpack(">I", blob[pos : pos + 4])[0]
        ctype = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + clen]
        crc = struct.unpack(">I", blob[pos + 8 + clen : pos + 12 + clen])[0]
        if zlib.crc32(ctype + data) != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or color != 2 or interlace != 0:
                raise ValueError("unsupported PNG variant")
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if w is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    stream = zlib.decompress(bytes(idat))
    bpp, stride = 3, 3 * w
    if len(stream) != h * (stride + 1):
        raise ValueError("scanline stream length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = stream[y * (stride + 1)]
        row = bytearray(stream[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        prior = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        for i in range(stride):
            left = row[i - bpp] if i >= bpp else 0
            up = int(prior[i])
            upleft = int(prior[i - bpp]) if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) // 2
            elif ft == 4:
                pred = _paeth(left, up, upleft)
            else:
                raise ValueError(f"bad filter type {ft}")
            row[i] = (row[i] + pred) & 0xFF
        out[y] = np.frombuffer(bytes(row), dtype=np.uint8)
    return out.reshape(h, w, 3)


@register(
    "c4_png_decode",
    oracle="""
        SELECT doc_id,
               CAST(4 + doc_id % 5 AS INT) AS width,
               CAST(3 + doc_id % 3 AS INT) AS height,
               CAST(doc_id % 200
                    + 0.5 * (3 + doc_id % 5)
                    + 1.0 * (2 + doc_id % 3) AS DOUBLE) AS mean_r,
               CAST((7 * doc_id) % 200
                    + 1.0 * (3 + doc_id % 5)
                    + 0.5 * (2 + doc_id % 3) AS DOUBLE) AS mean_g,
               CAST((13 * doc_id) % 200
                    + 1.5 * (3 + doc_id % 5)
                    + 1.5 * (2 + doc_id % 3) AS DOUBLE) AS mean_b,
               CAST(doc_id % 200 + (7 * doc_id) % 200 + (13 * doc_id) % 200
                    + 6 * (3 + doc_id % 5)
                    + 6 * (2 + doc_id % 3) AS BIGINT) AS corner_px_sum
        FROM documents
    """,
)
def c4_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: REAL PNG decode (retires the former c4_decode_features_stub,
    VERDICT r08 item 4) — synth-encode an 8-bit RGB PNG per document, then
    run a genuine parser (chunk walk + per-chunk CRC32 verify + IHDR
    validation + multi-IDAT concat + zlib inflate + all five inverse
    scanline filters) inside mapInPandas Arrow batches, and report header
    dims, per-channel means, and the bottom-right pixel's channel sum.

    The fixture is a closed-form linear gradient (value = base_c + kx·x +
    ky·y, never wrapping 255), with scanline y forward-filtered as type
    y % 5 — so a decoder that botches ANY inverse filter, drops an IDAT
    chunk, misreads the stride, or shifts a row flips the value hash: the
    per-channel means pin the whole pixel field (mean = base + kx·(w−1)/2
    + ky·(h−1), exact halves, float64-exact both engines) and the corner
    pixel pins orientation. Same distributed shape as the WAV/BMP kernels:
    per-row CPU inside Arrow batches, blobs never shuffled or
    driver-side."""
    d = _cpu_spread(load(spark, sf_dir, "documents").select("doc_id"))

    def synth_and_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                arr = png_rgb8_decode(png_rgb8_encode(did))
                h, w = arr.shape[0], arr.shape[1]
                rows.append(
                    (
                        did,
                        w,
                        h,
                        float(arr[:, :, 0].mean()),
                        float(arr[:, :, 1].mean()),
                        float(arr[:, :, 2].mean()),
                        int(arr[h - 1, w - 1, :].sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "mean_r",
                    "mean_g",
                    "mean_b",
                    "corner_px_sum",
                ],
            )

    return d.mapInPandas(
        synth_and_decode,
        schema="doc_id bigint, width int, height int, mean_r double, "
        "mean_g double, mean_b double, corner_px_sum bigint",
    )


# AVI fixture geometry, closed-form in doc_id (widths 4..8 exercise every
# 4-byte stride pad; 3..6 frames so the every-2nd sampler keeps 2..3).
_AVI_NF = lambda d: 3 + d % 4  # noqa: E731
_AVI_FPS = lambda d: 10 + d % 5  # noqa: E731
#: per-frame colors, (B, G, R) closed-form in (doc_id, frame_idx)
_AVI_BODY = lambda d, f: (
    (d + 29 * f) % 251,
    (7 * d + 11 * f) % 251,
    (13 * d + 17 * f) % 251,
)  # noqa: E731
_AVI_TOP = lambda d, f: (
    (3 * d + 5 * f) % 251,
    (11 * d + 7 * f) % 251,
    (17 * d + 19 * f) % 251,
)  # noqa: E731


def avi_rgb24_encode(doc_id: int) -> bytes:
    """Uncompressed RGB24 RIFF/AVI blob built from scratch: the standard
    nested-LIST layout — LIST('hdrl'){avih, LIST('strl'){strh('vids'/
    'DIB '), strf(BITMAPINFOHEADER)}}, LIST('movi'){'00db' frames}, and an
    idx1 index. Frames are bottom-up 4-byte-stride rows (the BMP pixel
    array format) with a solid body color and a DISTINCT top row per
    frame, both closed-form in (doc_id, frame). fps is encoded as
    strh dwRate/dwScale."""
    import struct

    w, h = _PNG_W(doc_id), _PNG_H(doc_id)
    n, fps = _AVI_NF(doc_id), _AVI_FPS(doc_id)
    pad = (-3 * w) % 4
    stride = 3 * w + pad
    frames = []
    for f in range(n):
        body, top = bytes(_AVI_BODY(doc_id, f)), bytes(_AVI_TOP(doc_id, f))
        frames.append(
            (body * w + b"\0" * pad) * (h - 1) + (top * w + b"\0" * pad)
        )

    def chunk(cid: bytes, data: bytes) -> bytes:
        return cid + struct.pack("<I", len(data)) + data + (b"\0" * (len(data) & 1))

    def lst(ltype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", ltype + data)

    frame_size = stride * h
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        frame_size * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # AVIF_HASINDEX
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        frame_size,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,
    )
    strh = (
        b"vids"
        + b"DIB "
        + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, frame_size, 0, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 2835, 2835, 0, 0
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b"".join(chunk(b"00db", fr) for fr in frames)
    movi = lst(b"movi", movi_body)
    # idx1: one AVIOLDINDEX entry per frame (offset relative to 'movi' fourcc)
    off, entries = 4, []
    for fr in frames:
        entries.append(struct.pack("<4sIII", b"00db", 0x10, off, len(fr)))
        off += 8 + len(fr) + (len(fr) & 1)
    idx1 = chunk(b"idx1", b"".join(entries))
    payload = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def avi_rgb24_decode(blob: bytes):
    """REAL AVI parser: RIFF/'AVI ' magics, recursive LIST walk (hdrl →
    strl), avih/strh/strf validation (single 'vids' stream, 24 bpp BI_RGB,
    consistent dims), '00db'/'00dc' frame extraction from the movi LIST in
    stream order, per-frame stride + bottom-up undo (row 0 = top), and a
    frame-count cross-check against BOTH the avih and strh headers.
    Returns (fps, frames) with each frame an (h, w, 3) uint8 B,G,R array."""
    import struct

    import numpy as np

    if blob[0:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI blob")
    hdr: dict = {}
    frames_raw: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int, ctx: str) -> None:
        while pos + 8 <= end:
            cid = buf[pos : pos + 4]
            csize = struct.unpack("<I", buf[pos + 4 : pos + 8])[0]
            body_at = pos + 8
            if cid == b"LIST":
                ltype = buf[body_at : body_at + 4]
                walk(buf, body_at + 4, body_at + csize, ltype.decode("latin1"))
            elif cid == b"avih":
                (hdr["us_per_frame"], _, _, _, hdr["avih_frames"], _,
                 hdr["streams"], _, hdr["avih_w"], hdr["avih_h"]) = struct.unpack(
                    "<IIIIIIIIII", buf[body_at : body_at + 40]
                )
            elif cid == b"strh" and ctx == "strl":
                if buf[body_at : body_at + 4] != b"vids":
                    raise ValueError("first stream is not video")
                (_f, _p, _l, _init, scale, rate, _st, length) = struct.unpack(
                    "<IHHIIIII", buf[body_at + 8 : body_at + 36]
                )
                hdr["scale"], hdr["rate"], hdr["strh_frames"] = scale, rate, length
            elif cid == b"strf" and ctx == "strl":
                (_sz, bw, bh, planes, bpp, comp) = struct.unpack(
                    "<IiiHHI", buf[body_at : body_at + 20]
                )
                if bpp != 24 or comp != 0 or planes != 1 or bw <= 0 or bh <= 0:
                    raise ValueError("unsupported AVI pixel format")
                hdr["w"], hdr["h"] = bw, bh
            elif cid in (b"00db", b"00dc") and ctx == "movi":
                frames_raw.append(buf[body_at : body_at + csize])
            pos = body_at + csize + (csize & 1)  # RIFF word alignment

    walk(blob, 12, 12 + struct.unpack("<I", blob[4:8])[0] - 4, "AVI ")
    for k in ("w", "h", "rate", "scale", "avih_frames", "strh_frames"):
        if k not in hdr:
            raise ValueError(f"missing AVI header field {k}")
    if hdr["streams"] != 1 or (hdr["avih_w"], hdr["avih_h"]) != (hdr["w"], hdr["h"]):
        raise ValueError("inconsistent AVI headers")
    if len(frames_raw) != hdr["avih_frames"] or len(frames_raw) != hdr["strh_frames"]:
        raise ValueError("frame count disagrees with headers")
    w, h = hdr["w"], hdr["h"]
    stride = (3 * w + 3) // 4 * 4
    frames = []
    for raw in frames_raw:
        if len(raw) != stride * h:
            raise ValueError("frame size mismatch")
        arr = np.frombuffer(raw, dtype=np.uint8)
        frames.append(arr.reshape(h, stride)[:, : 3 * w].reshape(h, w, 3)[::-1])
    return hdr["rate"] / hdr["scale"], frames


@register(
    "c4_avi_frame_extract",
    oracle="""
        SELECT d.doc_id,
               CAST(u.f AS INT) AS frame_idx,
               CAST(4 + d.doc_id % 5 AS INT) AS width,
               CAST(3 + d.doc_id % 3 AS INT) AS height,
               CAST(10 + d.doc_id % 5 AS DOUBLE) AS fps,
               CAST(3 + d.doc_id % 4 AS INT) AS n_frames,
               CAST((3 * d.doc_id + 5 * u.f) % 251 AS DOUBLE) AS top_row_blue,
               CAST((d.doc_id + 29 * u.f) % 251 AS DOUBLE) AS body_blue,
               CAST((13 * d.doc_id + 17 * u.f) % 251 AS DOUBLE) AS body_red
        FROM documents d,
             LATERAL unnest(generate_series(0, CAST(2 + d.doc_id % 4 AS BIGINT)))
                 AS u(f)
        WHERE u.f % 2 = 0
    """,
)
def c4_avi_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: REAL video-container frame sampling (retires the former
    c4_frame_sample_stub, the last stub in the image/video decode family —
    only compressed-codec decode now needs external libs). Synth-encodes
    an uncompressed RGB24 AVI per document, then runs a genuine parser —
    nested RIFF LIST walk, avih/strh/strf validation, movi frame
    extraction, per-frame stride + bottom-up undo, header cross-checks —
    inside mapInPandas, samples every 2nd frame (the keyframe-sampling
    dataflow: 1 video → N frame rows via explode-in-Python), and reports
    header fps/dims plus per-region channel means the closed-form oracle
    hash-pins: a parser that drops a frame, misorders the movi walk,
    misreads the stride, or forgets the row flip fails the hash. Same
    distributed shape as the WAV/BMP/PNG kernels: per-row CPU in Arrow
    batches, blobs never shuffled or driver-side."""
    d = _cpu_spread(load(spark, sf_dir, "documents").select("doc_id"))

    def synth_and_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                fps, frames = avi_rgb24_decode(avi_rgb24_encode(did))
                for idx in range(0, len(frames), 2):
                    fr = frames[idx]
                    h, w = fr.shape[0], fr.shape[1]
                    rows.append(
                        (
                            did,
                            idx,
                            w,
                            h,
                            float(fps),
                            len(frames),
                            float(fr[0, :, 0].mean()),
                            float(fr[1:, :, 0].mean()),
                            float(fr[1:, :, 2].mean()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "frame_idx",
                    "width",
                    "height",
                    "fps",
                    "n_frames",
                    "top_row_blue",
                    "body_blue",
                    "body_red",
                ],
            )

    return d.mapInPandas(
        synth_and_sample,
        schema="doc_id bigint, frame_idx int, width int, height int, "
        "fps double, n_frames int, top_row_blue double, body_blue double, "
        "body_red double",
    )


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU T.81 / JFIF) codec — pure struct+numpy, no codec libs.
# The decoder is table-driven: DQT/DHT/SOF0/SOS are parsed from the FILE, so
# it decodes any 8-bit baseline 4:4:4 JFIF stream, not just this encoder's
# output. The encoder runs the real pipeline (level shift → 2-D DCT →
# quantize → zigzag → DC-prediction/AC-run-length huffman with canonical
# tables emitted in DHT → byte-stuffed entropy stream). Rounding everywhere
# is floor(x+0.5) — the engine-proof form (see c3_covariance_matrix) — so
# the closed-form oracle predicts decoded values bit-exactly.
# ---------------------------------------------------------------------------

import struct as _struct

import numpy as _np

# zigzag scan order: zz[i] = (row, col) of the i-th coefficient
_JPEG_ZZ = []
for s in range(15):
    rng = range(s + 1)
    for t in (rng if s % 2 else reversed(rng)):
        r, c = t, s - t
        if r < 8 and c < 8:
            _JPEG_ZZ.append((r, c))
assert len(_JPEG_ZZ) == 64 and _JPEG_ZZ[0] == (0, 0) and _JPEG_ZZ[1] == (0, 1) and _JPEG_ZZ[2] == (1, 0)

_JPEG_DCT = _np.zeros((8, 8))
for u in range(8):
    cu = (0.5 ** 0.5) if u == 0 else 1.0
    for x in range(8):
        _JPEG_DCT[u, x] = 0.5 * cu * _np.cos((2 * x + 1) * u * _np.pi / 16.0)


def _jpeg_dct2(block):  # block: 8x8 float (level-shifted)
    return _JPEG_DCT @ block @ _JPEG_DCT.T


def _jpeg_idct2(coef):
    return _JPEG_DCT.T @ coef @ _JPEG_DCT


def _jpeg_category(v: int) -> int:
    return 0 if v == 0 else int(v).bit_length() if v > 0 else int(-v).bit_length()


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


class _JpegBitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("entropy stream exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy stream")
                self.pos += 1  # skip stuffed zero
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        return v


def _jpeg_build_table(symbols):
    """Canonical fixed-length table for the symbol set: BITS + HUFFVAL with
    every code at length L (2^L > n so the all-ones code stays unused, as
    T.81 requires)."""
    syms = sorted(set(symbols))
    n = len(syms)
    L = max(1, (n + 1 - 1).bit_length())  # 2^L >= n+1
    while (1 << L) < n + 1:
        L += 1
    bits = [0] * 16
    bits[L - 1] = n
    return bits, syms


def _jpeg_huff_codes(bits, vals):
    """Canonical code assignment per T.81 Annex C."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _jpeg_encode_block_stream(blocks, qtab, dc_codes, ac_codes, bw, pred):
    """blocks: iterable of 8x8 int arrays (pixel domain 0..255)."""
    for blk in blocks:
        f = _jpeg_dct2(blk.astype(_np.float64) - 128.0)
        q = _np.floor(f / qtab + 0.5).astype(_np.int64)  # engine-proof rounding
        zz = [int(q[r, c]) for (r, c) in _JPEG_ZZ]
        diff = zz[0] - pred
        pred = zz[0]
        cat = _jpeg_category(diff)
        code, ln = dc_codes[cat]
        bw.write(code, ln)
        if cat:
            v = diff if diff > 0 else diff + (1 << cat) - 1
            bw.write(v, cat)
        run = 0
        last_nz = 0
        for i in range(63, 0, -1):
            if zz[i]:
                last_nz = i
                break
        for i in range(1, last_nz + 1):
            v = zz[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                bw.write(code, ln)
                run -= 16
            cat = _jpeg_category(v)
            code, ln = ac_codes[(run << 4) | cat]
            bw.write(code, ln)
            bw.write(v if v > 0 else v + (1 << cat) - 1, cat)
            run = 0
        if last_nz < 63:
            code, ln = ac_codes[0x00]  # EOB
            bw.write(code, ln)
    return pred


def jpeg_baseline_encode(y, cb, cr, qtab=None):
    """Baseline 4:4:4 JFIF from three HxW uint8 planes (H, W multiples of 8)."""
    h, w = y.shape
    assert h % 8 == 0 and w % 8 == 0
    if qtab is None:
        qtab = _np.ones((8, 8), dtype=_np.int64)

    def blocks(plane):
        for by in range(0, h, 8):
            for bx in range(0, w, 8):
                yield plane[by : by + 8, bx : bx + 8]

    # pass 1: gather symbols actually used, to build tables
    dc_syms = {comp: set() for comp in range(3)}
    ac_syms = {comp: {0x00, 0xF0} for comp in range(3)}
    planes = [y, cb, cr]
    for comp, plane in enumerate(planes):
        pred = 0
        for blk in blocks(plane):
            f = _jpeg_dct2(blk.astype(_np.float64) - 128.0)
            q = _np.floor(f / qtab + 0.5).astype(_np.int64)
            zz = [int(q[r, c]) for (r, c) in _JPEG_ZZ]
            dc_syms[comp].add(_jpeg_category(zz[0] - pred))
            pred = zz[0]
            run = 0
            last_nz = 0
            for i in range(63, 0, -1):
                if zz[i]:
                    last_nz = i
                    break
            for i in range(1, last_nz + 1):
                v = zz[i]
                if v == 0:
                    run += 1
                    continue
                run %= 16
                ac_syms[comp].add((run << 4) | _jpeg_category(v))
                run = 0
    # share one DC + one AC table between chroma components (ids 0/1)
    dc0 = _jpeg_build_table(dc_syms[0])
    dc1 = _jpeg_build_table(dc_syms[1] | dc_syms[2])
    ac0 = _jpeg_build_table(ac_syms[0])
    ac1 = _jpeg_build_table(ac_syms[1] | ac_syms[2])
    dc0c, dc1c = _jpeg_huff_codes(*dc0), _jpeg_huff_codes(*dc1)
    ac0c, ac1c = _jpeg_huff_codes(*ac0), _jpeg_huff_codes(*ac1)

    out = bytearray(b"\xff\xd8")  # SOI
    jfif = b"JFIF\x00" + bytes([1, 1, 0]) + _struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += b"\xff\xe0" + _struct.pack(">H", 2 + len(jfif)) + jfif
    # DQT (table 0, 8-bit), zigzag order
    zzq = bytes(int(qtab[r, c]) for (r, c) in _JPEG_ZZ)
    out += b"\xff\xdb" + _struct.pack(">H", 2 + 1 + 64) + b"\x00" + zzq
    # SOF0: 8-bit, 3 components, sampling 1x1, qtable 0
    sof = _struct.pack(">BHHB", 8, h, w, 3)
    for cid in (1, 2, 3):
        sof += bytes([cid, 0x11, 0])
    out += b"\xff\xc0" + _struct.pack(">H", 2 + len(sof)) + sof

    def dht(tclass, tid, bits, vals):
        data = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + _struct.pack(">H", 2 + len(data)) + data

    out += dht(0, 0, *dc0) + dht(0, 1, *dc1) + dht(1, 0, *ac0) + dht(1, 1, *ac1)
    # SOS: 3 components; Y uses tables 0/0, chroma 1/1
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + _struct.pack(">H", 2 + len(sos)) + sos
    bw = _JpegBitWriter()
    # interleaved MCUs (4:4:4: one block per component per MCU)
    preds = [0, 0, 0]
    tables = [(dc0c, ac0c), (dc1c, ac1c), (dc1c, ac1c)]
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            for comp, plane in enumerate(planes):
                preds[comp] = _jpeg_encode_block_stream(
                    [plane[by : by + 8, bx : bx + 8]],
                    qtab,
                    tables[comp][0],
                    tables[comp][1],
                    bw,
                    preds[comp],
                )
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def jpeg_baseline_decode(blob: bytes):
    """Baseline JFIF decoder: marker walk, DQT/DHT/SOF0/SOS parsing, huffman
    + bit-unstuffing scan decode with DC prediction, dequant (zigzag), IDCT,
    level shift, YCbCr->RGB. Requires 8-bit baseline, 3 components, 4:4:4."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG blob (missing SOI)")
    pos = 2
    qtabs = {}
    hufftabs = {}
    frame = None
    scan = None
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = blob[pos + 1]
        if marker == 0xD9:
            break
        seglen = _struct.unpack(">H", blob[pos + 2 : pos + 4])[0]
        body = blob[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit qtable unsupported in baseline")
                tab = _np.zeros((8, 8), dtype=_np.int64)
                for k, (r, c) in enumerate(_JPEG_ZZ):
                    tab[r, c] = body[i + 1 + k]
                qtabs[tq] = tab
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                hufftabs[(tc, th)] = _jpeg_huff_codes(bits, vals)
                i += 17 + n
        elif marker == 0xC0:
            prec, fh, fw, nc = _struct.unpack(">BHHB", body[:6])
            if prec != 8 or nc != 3:
                raise ValueError("only 8-bit 3-component baseline supported")
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                if samp != 0x11:
                    raise ValueError("only 4:4:4 sampling supported")
                comps.append((cid, tq))
            frame = (fh, fw, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("non-baseline SOF marker")
        elif marker == 0xDA:
            ns = body[0]
            scomps = []
            for c in range(ns):
                cid, tt = body[1 + 2 * c : 3 + 2 * c]
                scomps.append((cid, tt >> 4, tt & 0xF))
            scan = (scomps, pos + 2 + seglen)
            break
        pos += 2 + seglen
    if frame is None or scan is None:
        raise ValueError("missing SOF0 or SOS")
    fh, fw, comps = frame
    scomps, data_at = scan
    end = blob.rindex(b"\xff\xd9")
    # build decode maps: (length, code) -> symbol
    dec = {}
    for key, codes in hufftabs.items():
        dec[key] = {(ln, code): sym for sym, (code, ln) in codes.items()}
    br = _JpegBitReader(blob[data_at:end])

    def read_sym(table):
        code, ln = 0, 0
        for _ in range(16):
            code = (code << 1) | br.read(1)
            ln += 1
            if (ln, code) in table:
                return table[(ln, code)]
        raise ValueError("invalid huffman code")

    def extend(v, cat):
        return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1

    mby, mbx = fh // 8, fw // 8
    planes = [_np.zeros((fh, fw), dtype=_np.float64) for _ in range(3)]
    preds = [0, 0, 0]
    for my in range(mby):
        for mx in range(mbx):
            for ci, (cid, tdc, tac) in enumerate(scomps):
                qtab = qtabs[dict(comps)[cid]]
                zz = [0] * 64
                cat = read_sym(dec[(0, tdc)])
                diff = extend(br.read(cat), cat) if cat else 0
                preds[ci] += diff
                zz[0] = preds[ci]
                k = 1
                while k < 64:
                    rs = read_sym(dec[(1, tac)])
                    if rs == 0x00:
                        break
                    if rs == 0xF0:
                        k += 16
                        continue
                    run, cat = rs >> 4, rs & 0xF
                    k += run
                    if k > 63:
                        raise ValueError("AC run overflows block")
                    zz[k] = extend(br.read(cat), cat)
                    k += 1
                coef = _np.zeros((8, 8), dtype=_np.float64)
                for i, (r, c) in enumerate(_JPEG_ZZ):
                    coef[r, c] = zz[i] * qtab[r, c]
                blk = _jpeg_idct2(coef) + 128.0
                planes[ci][my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = blk
    yp = _np.clip(_np.floor(planes[0] + 0.5), 0, 255)
    cbp = _np.clip(_np.floor(planes[1] + 0.5), 0, 255)
    crp = _np.clip(_np.floor(planes[2] + 0.5), 0, 255)
    r = _np.clip(_np.floor(yp + 1.402 * (crp - 128.0) + 0.5), 0, 255)
    g = _np.clip(
        _np.floor(yp - 0.344136 * (cbp - 128.0) - 0.714136 * (crp - 128.0) + 0.5),
        0,
        255,
    )
    b = _np.clip(_np.floor(yp + 1.772 * (cbp - 128.0) + 0.5), 0, 255)
    return _np.stack([r, g, b], axis=-1).astype(_np.uint8), (
        yp.astype(_np.uint8),
        cbp.astype(_np.uint8),
        crp.astype(_np.uint8),
    )




@register(
    "c4_jpeg_baseline_decode",
    oracle="""
        WITH g AS (
            SELECT d.doc_id, u.k AS mcu_idx,
                   CAST(2 + d.doc_id % 3 AS INT) AS wm,
                   CAST(2 + d.doc_id % 2 AS INT) AS hm,
                   30 + (d.doc_id + 7 * u.k) % 200      AS y,
                   28 + (5 * d.doc_id + 11 * u.k) % 200 AS cb,
                   28 + (3 * d.doc_id + 13 * u.k) % 200 AS cr
            FROM documents d,
                 LATERAL unnest(generate_series(0,
                     CAST((2 + d.doc_id % 3) * (2 + d.doc_id % 2) - 1
                          AS BIGINT))) AS u(k)
        )
        SELECT doc_id,
               CAST(mcu_idx AS INT) AS mcu_idx,
               CAST(wm * 8 AS INT) AS width,
               CAST(hm * 8 AS INT) AS height,
               CAST(least(255, greatest(0, CAST(floor(
                    y + 1.402 * (cr - 128) + 0.5) AS BIGINT))) AS DOUBLE) AS r,
               CAST(least(255, greatest(0, CAST(floor(
                    y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)
                    AS BIGINT))) AS DOUBLE) AS g,
               CAST(least(255, greatest(0, CAST(floor(
                    y + 1.772 * (cb - 128) + 0.5) AS BIGINT))) AS DOUBLE) AS b
        FROM g
    """,
)
def c4_jpeg_baseline_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: REAL JPEG decode — the full baseline pipeline, no codec libs.
    Per document, synth-encode a baseline 4:4:4 JFIF (level shift → 2-D DCT
    → flat quantization → zigzag → DC-prediction + AC run-length huffman
    with canonical tables emitted in DHT → byte-stuffed entropy stream),
    then decode it with a genuine table-driven baseline decoder: marker
    walk, DQT/DHT/SOF0/SOS parsing, bit-unstuffed huffman scan decode with
    per-component DC prediction, dequantize, IDCT, level shift, and
    YCbCr→RGB with engine-proof floor(x+0.5) rounding.

    Fixture: an MCU grid (2-4 × 2-3 blocks) of per-MCU constant YCbCr
    colors, closed-form in (doc_id, mcu index). A constant 8×8 block has
    an integer DC coefficient and zero ACs, so with the flat quantization
    table the DCT→quantize→huffman→IDCT roundtrip is EXACT — the oracle
    states the decoded RGB of every MCU in closed form, and the driver
    hash pins the whole pipeline: a wrong huffman table, a missed stuffed
    byte, a DC-prediction slip (it chains across the full MCU sequence),
    a zigzag/dequant index error, or a color-matrix mistake shifts some
    MCU's mean and flips the hash. The non-constant AC path (ZRL, runs,
    EOB, IDCT of dense blocks) is exercised to ≤2 max-pixel-error in
    tests/test_properties.py — the honest bound for lossy-codec math.

    Same distributed shape as the WAV/BMP/PNG/AVI kernels: per-row CPU in
    mapInPandas Arrow batches; blobs never shuffled or driver-side. One
    row per MCU (explode-in-Python), like the AVI frame sampler."""
    import numpy as np

    d = _cpu_spread(load(spark, sf_dir, "documents").select("doc_id"))

    def synth_and_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                wm, hm = 2 + did % 3, 2 + did % 2
                w, h = wm * 8, hm * 8
                y = np.zeros((h, w), dtype=np.uint8)
                cb = np.zeros_like(y)
                cr = np.zeros_like(y)
                for k in range(wm * hm):
                    my, mx = divmod(k, wm)
                    sl = (slice(my * 8, my * 8 + 8), slice(mx * 8, mx * 8 + 8))
                    y[sl] = 30 + (did + 7 * k) % 200
                    cb[sl] = 28 + (5 * did + 11 * k) % 200
                    cr[sl] = 28 + (3 * did + 13 * k) % 200
                rgb, _planes = jpeg_baseline_decode(jpeg_baseline_encode(y, cb, cr))
                for k in range(wm * hm):
                    my, mx = divmod(k, wm)
                    mcu = rgb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8, :]
                    rows.append(
                        (
                            did,
                            k,
                            w,
                            h,
                            float(mcu[:, :, 0].mean()),
                            float(mcu[:, :, 1].mean()),
                            float(mcu[:, :, 2].mean()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "mcu_idx", "width", "height", "r", "g", "b"],
            )

    out = d.mapInPandas(
        synth_and_decode,
        schema="doc_id bigint, mcu_idx int, width int, height int, "
        "r double, g double, b double",
    )
    # The huffman+DCT roundtrip is the most expensive per-row kernel in the
    # module; persist the tiny stats frame so the driver gate's
    # count()+collect() runs the pipeline once (reexec-audit flagged the raw
    # frame at 2.1 s + 1.7 s double execution at sf0.01).
    return keep_result("c4_jpeg_baseline_decode", out)
