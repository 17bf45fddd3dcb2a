"""Multimodal binary-column operators: decode, feature-extract,
frame-sample — the Spark plumbing a 100 TB multimodal training pipeline
needs around opaque image/audio/video payloads.

Design (per the north rule's UDF discipline): payloads stay ``BinaryType``
end to end; every operator is an Arrow-batched ``mapInPandas`` stage with an
explicit output schema — per-batch numpy, never per-row Python at the
DataFrame level. Column pruning matters most here: metadata queries must
never scan ``payload`` (schema keeps meta in separate columns so Catalyst
prunes the multi-KB binary out of the parquet read).

Codec stubs: this sandbox has no Pillow/ffmpeg, so the byte-level parser
understands the deterministic RAW1 container from fixtures/genmedia.py and
raises ``NotImplementedError`` for real JPEG/PNG/WAV/MP4 magic — swap
``_parse_*``'s fallback branch for the real library on a cluster; batch
shapes, schemas, and partitioning are identical either way.
"""

from __future__ import annotations

import hashlib
import json
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SMOKE = "fixtures/data/media_smoke.parquet"

_REAL_MAGICS = {b"\xff\xd8\xff": "jpeg", b"\x89PNG": "png",
                b"RIFF": "wav", b"\x00\x00\x00 ftyp": "mp4"}


def _check_real_codec(payload: bytes) -> None:
    for magic, name in _REAL_MAGICS.items():
        if payload.startswith(magic):
            raise NotImplementedError(
                f"{name} decode requires Pillow/ffmpeg (not in sandbox); "
                f"swap this branch for the real codec on a cluster")


def _parse_image(payload: bytes) -> tuple[int, int, int, bytes]:
    _check_real_codec(payload)
    if payload[:4] != b"IMG1":
        raise ValueError("not a RAW1 image")
    w, h, c = struct.unpack(">HHB", payload[4:9])
    return w, h, c, payload[9:9 + w * h * c]


def _parse_audio(payload: bytes) -> tuple[int, int, bytes]:
    _check_real_codec(payload)
    if payload[:4] != b"AUD1":
        raise ValueError("not a RAW1 audio")
    sr, n = struct.unpack(">II", payload[4:12])
    return sr, n, payload[12:12 + n]


def _parse_video(payload: bytes) -> tuple[int, int, int, bytes]:
    _check_real_codec(payload)
    if payload[:4] != b"VID1":
        raise ValueError("not a RAW1 video")
    nf, w, h = struct.unpack(">HHH", payload[4:10])
    return nf, w, h, payload[10:10 + nf * w * h]


# ---------------------------------------------------------------------------
# mapInPandas stages
# ---------------------------------------------------------------------------

DECODE_SCHEMA = ("media_id long, kind string, width int, height int, "
                 "channels int, sample_rate int, n_samples int, n_frames int, "
                 "payload_bytes long, error string")


def decode_meta_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode typed metadata from binary payloads (per-batch loop, Arrow
    transfer; errors captured per row, never raised)."""
    for pdf in it:
        out = {k: [] for k in ("media_id", "kind", "width", "height",
                               "channels", "sample_rate", "n_samples",
                               "n_frames", "payload_bytes", "error")}
        for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
            row = dict.fromkeys(out, None)
            row["media_id"], row["kind"] = mid, kind
            row["payload_bytes"] = len(payload)
            try:
                if kind == "image":
                    w, h, c, _ = _parse_image(payload)
                    row.update(width=w, height=h, channels=c)
                elif kind == "audio":
                    sr, n, _ = _parse_audio(payload)
                    row.update(sample_rate=sr, n_samples=n)
                elif kind == "video":
                    nf, w, h, _ = _parse_video(payload)
                    row.update(n_frames=nf, width=w, height=h)
                else:
                    row["error"] = f"unknown_kind:{kind}"
            except (NotImplementedError, ValueError, struct.error) as exc:
                row["error"] = f"{type(exc).__name__}: {exc}"[:200]
            for k, v in row.items():
                out[k].append(v)
        yield pd.DataFrame(out)


AUDIO_FEAT_SCHEMA = ("media_id long, duration_ms double, mean_amp double, "
                     "rms_amp double")


def audio_features_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """PCM feature extraction (mean/RMS of signed-i8 samples), vectorized."""
    import numpy as np
    for pdf in it:
        ids, durs, means, rmss = [], [], [], []
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            try:
                sr, n, pcm = _parse_audio(payload)
                arr = np.frombuffer(pcm, dtype=np.int8).astype(np.float64)
            except Exception:  # noqa: BLE001
                continue
            ids.append(mid)
            durs.append(round(n * 1000 / sr, 3))
            means.append(round(float(arr.mean()), 4))
            rmss.append(round(float(np.sqrt((arr * arr).mean())), 4))
        yield pd.DataFrame({"media_id": ids, "duration_ms": durs,
                            "mean_amp": means, "rms_amp": rmss})


FRAME_SAMPLE_SCHEMA = "media_id long, frame_index int, frame_digest string"


def frame_sample_batches(every_k: int):
    """Sample every k-th frame of RAW1 video; emit one row per kept frame
    (UDTF-style fan-out through mapInPandas)."""
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, digs = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    nf, w, h, frames = _parse_video(payload)
                except Exception:  # noqa: BLE001
                    continue
                fsz = w * h
                for i in range(0, nf, every_k):
                    ids.append(mid)
                    idxs.append(i)
                    digs.append(hashlib.md5(
                        frames[i * fsz:(i + 1) * fsz]).hexdigest())
            yield pd.DataFrame({"media_id": ids, "frame_index": idxs,
                                "frame_digest": digs})
    return fn


# ---------------------------------------------------------------------------
# DataFrame-level operators
# ---------------------------------------------------------------------------

def _media_df(spark: SparkSession) -> DataFrame:
    import os
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))), MEDIA_SMOKE)
    if not os.path.exists(path):
        from fixtures.genmedia import materialize
        materialize("smoke", os.path.dirname(path))
    return spark.read.parquet(path)


def decode_media(media: DataFrame) -> DataFrame:
    return (media.repartition(8, F.xxhash64("media_id"))
            .mapInPandas(decode_meta_batches, DECODE_SCHEMA))


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded metadata from binary payloads; oracle = the planted meta JSON
    (proves the binary decode reproduces ground truth)."""
    out = decode_media(_media_df(spark))
    return (out.filter(F.col("error").isNull())
            .select("media_id", "kind", "width", "height", "channels",
                    "sample_rate", "n_samples", "n_frames", "payload_bytes")
            .orderBy("media_id"))


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th-frame sampling over video payloads; oracle = the per-frame
    md5 digests the fixture generator plants in meta at generation time
    (fixtures/genmedia.py FRAME_SAMPLE_K), so the byte-level slicing+digest
    is checked against ground truth, not just row counts."""
    media = _media_df(spark).filter(F.col("kind") == "video")
    out = media.repartition(8, F.xxhash64("media_id")).mapInPandas(
        frame_sample_batches(4), FRAME_SAMPLE_SCHEMA)
    return out.orderBy("media_id", "frame_index")


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM mean/RMS features; oracle = planted signed-i8 mean/RMS from the
    fixture meta (exact: integer sums are error-free in float64, so the
    generator's Python arithmetic equals the operator's numpy arithmetic)."""
    media = _media_df(spark).filter(F.col("kind") == "audio")
    out = media.repartition(8, F.xxhash64("media_id")).mapInPandas(
        audio_features_batches, AUDIO_FEAT_SCHEMA)
    return out.orderBy("media_id")


MULTIMODAL_ORACLES = {
    # ground-truth check: decode(payload) == planted meta JSON
    "multimodal_decode": """
        SELECT media_id, kind,
               CAST(json_extract(meta, '$.width') AS INT) AS width,
               CAST(json_extract(meta, '$.height') AS INT) AS height,
               CAST(json_extract(meta, '$.channels') AS INT) AS channels,
               CAST(json_extract(meta, '$.sample_rate') AS INT) AS sample_rate,
               CAST(json_extract(meta, '$.n_samples') AS INT) AS n_samples,
               CAST(json_extract(meta, '$.n_frames') AS INT) AS n_frames,
               CASE kind
                 WHEN 'image' THEN 9 + CAST(json_extract(meta,'$.width') AS BIGINT)
                      * CAST(json_extract(meta,'$.height') AS BIGINT)
                      * CAST(json_extract(meta,'$.channels') AS BIGINT)
                 WHEN 'audio' THEN 12 + CAST(json_extract(meta,'$.n_samples') AS BIGINT)
                 WHEN 'video' THEN 10 + CAST(json_extract(meta,'$.n_frames') AS BIGINT)
                      * CAST(json_extract(meta,'$.width') AS BIGINT)
                      * CAST(json_extract(meta,'$.height') AS BIGINT)
               END AS payload_bytes
        FROM '__MEDIA_PARQUET__'
        ORDER BY media_id
    """,
    # planted every-4th-frame md5 digests (fixtures/genmedia.py FRAME_SAMPLE_K)
    "multimodal_frame_sample": """
        SELECT media_id,
               unnest(CAST(json_extract(meta, '$.frame_idx_k4') AS INT[]))
                   AS frame_index,
               unnest(CAST(json_extract(meta, '$.frame_dig_k4') AS VARCHAR[]))
                   AS frame_digest
        FROM '__MEDIA_PARQUET__'
        WHERE kind = 'video'
        ORDER BY media_id, frame_index
    """,
    # planted signed-i8 PCM stats (exact integer-sum float64 arithmetic)
    "multimodal_audio_features": """
        SELECT media_id,
               CAST(json_extract(meta, '$.duration_ms') AS DOUBLE) AS duration_ms,
               CAST(json_extract(meta, '$.mean_amp') AS DOUBLE) AS mean_amp,
               CAST(json_extract(meta, '$.rms_amp') AS DOUBLE) AS rms_amp
        FROM '__MEDIA_PARQUET__'
        WHERE kind = 'audio'
        ORDER BY media_id
    """,
}


def oracle_sql_for_media(repo_root: str) -> dict[str, str]:
    import os
    path = os.path.join(repo_root, MEDIA_SMOKE)
    return {k: v.replace("__MEDIA_PARQUET__", path)
            for k, v in MULTIMODAL_ORACLES.items()}
