"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode / feature-extract / frame-sample as Arrow-batched UDF stages.

The reference's data model is already "opaque bytes + metadata" (records are
``(key: byte[], value: byte[], ts)``, SURVEY.md §1.1) — an image or audio
payload is just a value blob. What we add is the Spark-side plumbing a
100 TB training-data pipeline needs:

- a canonical schema: ``payload BINARY`` + ``meta STRUCT`` (typed, prunable
  — Catalyst reads only ``meta`` when the query doesn't touch ``payload``);
- ``mapInPandas`` decode stages (Arrow moves the bytes zero-copy; batch
  size bounds executor memory: payload_bytes * arrow batch rows);
- real decoders STUBBED: image/audio libraries are not in this container,
  so ``decode=...`` hooks raise NotImplementedError unless the
  deterministic fake is requested — the schema/partitioning/UDF
  signature/batch shape are the real, tested part.

Feature math of the deterministic fake is plain integer arithmetic on
(doc_id, payload length) so every stage has an exact DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: dims of the fake feature vector; prime modulus shared with the oracles.
FAKE_FEATURE_DIM = 8
FAKE_MOD = 997

MEDIA_SCHEMA = (
    "doc_id BIGINT, modality STRING, payload BINARY, "
    "meta STRUCT<n_bytes: BIGINT, format: STRING, n_frames: BIGINT>"
)


def pack_text_as_media(docs: DataFrame, frames_mod: int = 50) -> DataFrame:
    """Encode the documents fixture as a media table: binary payload +
    typed metadata (deterministic synthetic n_frames for the video path)."""
    payload = F.encode("text", "utf-8")
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.lit("image").alias("modality"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
            F.lit("raw").alias("format"),
            (F.octet_length(payload) % frames_mod + 1).cast("bigint").alias("n_frames"),
        ).alias("meta"),
    )


def _fake_features(doc_id: int, n_bytes: int) -> list[float]:
    return [float((doc_id * 31 + j * n_bytes) % FAKE_MOD) for j in range(FAKE_FEATURE_DIM)]


def decode_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Decode payloads to fixed-dim feature vectors via mapInPandas.

    ``fake=True``: deterministic features from (doc_id, len(payload)) — the
    real Arrow-batched UDF path with oracle-able output. ``fake=False``
    requires a real image decoder (not in this container)."""
    if not fake:
        raise NotImplementedError(
            "real image decode requires pillow/torchvision; not available in "
            "this container — use fake=True for the plumbing path"
        )

    def run(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if pdf.empty:
                continue
            feats = [
                _fake_features(int(d), len(p))
                for d, p in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    # prune to the two needed columns BEFORE the Python boundary: only
    # (doc_id, payload) cross Arrow, not meta
    return media.select("doc_id", "payload").mapInPandas(
        run, "doc_id BIGINT, features ARRAY<DOUBLE>"
    )


def decode_features_long(media: DataFrame, fake: bool = True) -> DataFrame:
    """Long-form decode: one row per (doc_id, j) with a scalar DOUBLE
    feature.  This is the gate/oracle-facing shape — ``ARRAY<DOUBLE>``
    output columns are not canonicalizable by hash-compare harnesses
    (pandas cannot sort/factorize list cells), so the driver-facing query
    explodes; :func:`decode_features` stays the library API."""
    feats = decode_features(media, fake=fake)
    return feats.select(
        "doc_id", F.posexplode("features").alias("j", "feature")
    )


def sample_frames(media: DataFrame, every_k: int = 7) -> DataFrame:
    """Frame sampling: one output row per sampled frame index (0, k, 2k, …
    < n_frames) — the video explode pattern via mapInPandas (a real decoder
    would also emit the frame bytes per row)."""

    def run(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, idxs = [], []
            for d, nf in zip(pdf["doc_id"], pdf["n_frames"]):
                for i in range(0, int(nf), every_k):
                    ids.append(d)
                    idxs.append(i)
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs})

    return media.select("doc_id", F.col("meta.n_frames").alias("n_frames")).mapInPandas(
        run, "doc_id BIGINT, frame_idx BIGINT"
    )


def chunk_audio(media: DataFrame, chunk_bytes: int = 256, fake: bool = True) -> DataFrame:
    """Audio chunking: one row per fixed-size payload chunk with a
    per-chunk feature (RMS-energy stand-in). The Spark-side plumbing is
    real — the binary is sliced per chunk inside the Arrow batch, the
    explode shape matches what a librosa/torchaudio decode would emit —
    but the feature math is the deterministic fake (oracle-able) because
    no audio codec ships in this container."""
    if not fake:
        raise NotImplementedError(
            "real audio decode requires librosa/torchaudio; not available in "
            "this container — use fake=True for the plumbing path"
        )

    def run(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, idxs, lens, energies = [], [], [], []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                for ci, start in enumerate(range(0, len(p), chunk_bytes)):
                    cl = len(p[start:start + chunk_bytes])
                    ids.append(d)
                    idxs.append(ci)
                    lens.append(cl)
                    energies.append(float((int(d) * 17 + ci * cl) % FAKE_MOD))
            yield pd.DataFrame(
                {"doc_id": ids, "chunk_idx": idxs, "n_bytes": lens, "energy": energies}
            )

    return media.select("doc_id", "payload").mapInPandas(
        run, "doc_id BIGINT, chunk_idx BIGINT, n_bytes BIGINT, energy DOUBLE"
    )


# -- dependency-free REAL codecs (r9 VERDICT task 10) ------------------------
# The fake paths above stand in for pillow/librosa, which this container
# lacks. WAV (RIFF PCM16) and PPM (P6) need NO library — stdlib struct and
# byte slicing parse them — so these two formats get a REAL decode floor:
# planted fixtures are synthesized as honest container bytes, the decode
# stage parses the actual container (header fields AND samples/pixels),
# and the oracle recomputes the expected features from the fixtures'
# generative integer formula — a wrong parser (endianness, header offset,
# stride) hash-mismatches immediately.

#: planted-fixture geometry (shared by synth, decode asserts, and oracles)
WAV_SAMPLES = 480
WAV_RATE = 8000
PPM_W = 8
PPM_H = 8


def _wav_sample(doc_id: int, i: int) -> int:
    # deterministic int16 PCM sample in [-1024, 1023]
    return ((doc_id * 7 + i * 13) % 2048) - 1024


def _synth_wav_bytes(doc_id: int) -> bytes:
    """A real RIFF/WAVE container: 44-byte canonical header + PCM16LE
    mono samples from the generative formula."""
    import struct

    data = b"".join(
        struct.pack("<h", _wav_sample(doc_id, i)) for i in range(WAV_SAMPLES)
    )
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,          # PCM fmt chunk size
        1,           # audio format = PCM
        1,           # channels
        WAV_RATE,
        WAV_RATE * 2,  # byte rate (mono int16)
        2,           # block align
        16,          # bits per sample
        b"data",
        len(data),
    )
    return hdr + data


def _ppm_pixel(doc_id: int, idx: int, c: int) -> int:
    return (doc_id + 3 * idx + 31 * c) % 256


def _synth_ppm_bytes(doc_id: int) -> bytes:
    """A real binary P6 PPM: ASCII header + raw RGB24 raster."""
    raster = bytes(
        _ppm_pixel(doc_id, y * PPM_W + x, c)
        for y in range(PPM_H)
        for x in range(PPM_W)
        for c in range(3)
    )
    return f"P6\n{PPM_W} {PPM_H}\n255\n".encode() + raster


def synth_media(docs: DataFrame, kind: str = "wav") -> DataFrame:
    """Plant the fixtures: one real WAV/PPM payload per doc_id, emitted
    through the same mapInPandas boundary production ingestion uses (the
    bytes cross Arrow exactly like scanned blobs would)."""
    synth = _synth_wav_bytes if kind == "wav" else _synth_ppm_bytes
    fmt = kind

    def run(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = [synth(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    out = docs.select(F.col("doc_id").cast("bigint").alias("doc_id")).mapInPandas(
        run, "doc_id BIGINT, payload BINARY"
    )
    return out.select(
        "doc_id",
        F.lit("audio" if kind == "wav" else "image").alias("modality"),
        "payload",
        F.struct(
            F.octet_length("payload").cast("bigint").alias("n_bytes"),
            F.lit(fmt).alias("format"),
            F.lit(1).cast("bigint").alias("n_frames"),
        ).alias("meta"),
    )


def wav_features(media: DataFrame) -> DataFrame:
    """REAL audio decode, zero dependencies: parse the RIFF/WAVE header
    (struct), decode the PCM16LE samples (stdlib array), and aggregate
    integer-exact per-doc features — (doc_id, sample_rate, n_samples,
    energy = sum of squared samples, peak = max |sample|). A real
    pipeline swaps the feature math, not the plumbing: the same
    mapInPandas stage, the same pruned (doc_id, payload) projection."""
    import array
    import struct

    def run(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, rates, counts, energies, peaks = [], [], [], [], []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                if b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
                    raise ValueError(f"doc {d}: not a RIFF/WAVE payload")
                (fmt_tag, n_ch, rate) = struct.unpack("<HHI", b[20:28])
                bits = struct.unpack("<H", b[34:36])[0]
                if (fmt_tag, n_ch, bits) != (1, 1, 16):
                    raise ValueError(f"doc {d}: not mono PCM16")
                data_len = struct.unpack("<I", b[40:44])[0]
                samples = array.array("h")
                samples.frombytes(b[44 : 44 + data_len])
                ids.append(int(d))
                rates.append(int(rate))
                counts.append(len(samples))
                energies.append(sum(int(s) * int(s) for s in samples))
                peaks.append(max(abs(int(s)) for s in samples) if samples else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "sample_rate": pd.Series(rates, dtype="int64"),
                    "n_samples": pd.Series(counts, dtype="int64"),
                    "energy": pd.Series(energies, dtype="int64"),
                    "peak": pd.Series(peaks, dtype="int64"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        run,
        "doc_id BIGINT, sample_rate BIGINT, n_samples BIGINT, "
        "energy BIGINT, peak BIGINT",
    )


def ppm_features(media: DataFrame) -> DataFrame:
    """REAL image decode, zero dependencies: parse the P6 header (ASCII
    dims + maxval), walk the RGB24 raster, and aggregate integer-exact
    per-doc features — (doc_id, width, height, r_sum, g_sum, b_sum)."""

    def run(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if pdf.empty:
                continue
            rows = {k: [] for k in ("doc_id", "width", "height", "r_sum", "g_sum", "b_sum")}
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                if not b.startswith(b"P6"):
                    raise ValueError(f"doc {d}: not a P6 PPM payload")
                # header = magic, whitespace-separated width/height/maxval,
                # single whitespace, then the raster
                parts = b.split(b"\n", 3)
                w, h = (int(x) for x in parts[1].split())
                raster = parts[3]
                sums = [0, 0, 0]
                for i in range(w * h):
                    for c in range(3):
                        sums[c] += raster[3 * i + c]
                rows["doc_id"].append(int(d))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["r_sum"].append(sums[0])
                rows["g_sum"].append(sums[1])
                rows["b_sum"].append(sums[2])
            yield pd.DataFrame({k: pd.Series(v, dtype="int64") for k, v in rows.items()})

    return media.select("doc_id", "payload").mapInPandas(
        run,
        "doc_id BIGINT, width BIGINT, height BIGINT, "
        "r_sum BIGINT, g_sum BIGINT, b_sum BIGINT",
    )


def wav_decode_features(docs: DataFrame) -> DataFrame:
    """The gated composition: plant real WAV containers for every doc_id,
    then REALLY decode them (synth -> RIFF parse -> PCM16 aggregate).
    The oracle recomputes the features from the generative formula, so a
    parser bug (header offset, endianness, sample width) hash-mismatches."""
    return wav_features(synth_media(docs, kind="wav"))


def wav_decode_features_oracle() -> str:
    return f"""
        WITH s AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   unnest(range(0, {WAV_SAMPLES})) AS i
            FROM documents
        ),
        v AS (
            SELECT doc_id,
                   ((doc_id * 7 + i * 13) % 2048) - 1024 AS x
            FROM s
        )
        SELECT doc_id,
               CAST({WAV_RATE} AS BIGINT) AS sample_rate,
               CAST({WAV_SAMPLES} AS BIGINT) AS n_samples,
               CAST(sum(x * x) AS BIGINT) AS energy,
               CAST(max(abs(x)) AS BIGINT) AS peak
        FROM v
        GROUP BY doc_id
    """


def ppm_decode_features(docs: DataFrame) -> DataFrame:
    return ppm_features(synth_media(docs, kind="ppm"))


def ppm_decode_features_oracle() -> str:
    n = PPM_W * PPM_H
    return f"""
        WITH px AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   unnest(range(0, {n})) AS i
            FROM documents
        )
        SELECT doc_id,
               CAST({PPM_W} AS BIGINT) AS width,
               CAST({PPM_H} AS BIGINT) AS height,
               CAST(sum((doc_id + 3 * i) % 256) AS BIGINT) AS r_sum,
               CAST(sum((doc_id + 3 * i + 31) % 256) AS BIGINT) AS g_sum,
               CAST(sum((doc_id + 3 * i + 62) % 256) AS BIGINT) AS b_sum
        FROM px
        GROUP BY doc_id
    """


# -- DuckDB oracles (identical arithmetic) ----------------------------------

def decode_features_long_oracle() -> str:
    return f"""
        WITH m AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   octet_length(encode(text)) AS n
            FROM documents
        ),
        idx AS (SELECT CAST(unnest(range(0, {FAKE_FEATURE_DIM})) AS INT) AS j)
        SELECT m.doc_id, idx.j,
               CAST((m.doc_id * 31 + idx.j * m.n) % {FAKE_MOD} AS DOUBLE) AS feature
        FROM m CROSS JOIN idx
    """


def chunk_audio_oracle(chunk_bytes: int = 256) -> str:
    return f"""
        WITH m AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   octet_length(encode(text)) AS n
            FROM documents
        ),
        c AS (
            SELECT doc_id, n,
                   CAST(unnest(range(0, n, {chunk_bytes})) AS BIGINT) AS start
            FROM m
        )
        SELECT doc_id,
               CAST(start // {chunk_bytes} AS BIGINT) AS chunk_idx,
               CAST(least({chunk_bytes}, n - start) AS BIGINT) AS n_bytes,
               CAST((doc_id * 17 + (start // {chunk_bytes})
                     * least({chunk_bytes}, n - start)) % {FAKE_MOD} AS DOUBLE) AS energy
        FROM c
    """


def sample_frames_oracle(every_k: int = 7, frames_mod: int = 50) -> str:
    return f"""
        WITH m AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   octet_length(encode(text)) % {frames_mod} + 1 AS n_frames
            FROM documents
        )
        SELECT doc_id, CAST(unnest(range(0, n_frames, {every_k})) AS BIGINT) AS frame_idx
        FROM m
    """
