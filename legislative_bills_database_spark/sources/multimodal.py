"""Multimodal columns: opaque binary payloads + typed metadata.

Design (the 100 TB story): image/audio/video bytes travel as a
``binary`` column next to a metadata struct (mime, size, dims, ...).
Decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages — bytes never hit the driver, batches stay
columnar, and the decode UDF's schema is declared so Catalyst can prune
everything else around it.

No real decoder (PIL / torchaudio / ffmpeg) is a dependency, so
tests/bench use :func:`fake_image_features`, a clearly-marked
deterministic stand-in with the identical Spark-side plumbing (schema,
batching, partitioning).

Optional-dependency wiring (the RestClient injectable-transport
pattern): every stage accepts an injected per-payload callable —
``image_features(df, extractor=...)`` and ``resize_images(df, w, h,
resizer=...)`` — so a deployment with PIL/ffmpeg installed passes its
real decoder with ZERO changes to the Spark plumbing; the callable is
cloudpickled into the Arrow worker with the closure. The defaults are
the deterministic fakes; the injection seam itself is pytest-proven
with a custom callable (tests/test_multimodal.py).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

FEATURE_DIM = 8

FEATURE_SCHEMA = (
    "doc_id long, mime string, n_bytes long, features array<double>"
)


def _fake_features(payload: bytes) -> list[float]:
    """DETERMINISTIC FAKE decode: derives FEATURE_DIM floats from a sha256
    of the payload. Stands in for a real embedding/feature extractor so the
    distributed plumbing (schema, batch shape, partitioning) is testable."""
    digest = hashlib.sha256(payload).digest()
    return [
        int.from_bytes(digest[i * 4 : i * 4 + 4], "big") / 2**32
        for i in range(FEATURE_DIM)
    ]


def image_features(
    payloads: DataFrame,
    extractor=None,
) -> DataFrame:
    """mapInPandas feature extraction over (doc_id, payload binary, meta).

    One Arrow batch in → one batch out; at scale this parallelizes per
    input partition with zero shuffle.

    ``extractor``: optional ``Callable[[bytes], list[float]]`` — the
    real decoder/embedder a deployment injects (PIL + model forward,
    etc.). Defaults to the deterministic sha256 fake. The callable is
    serialized with the closure, so it must be picklable (top-level
    function, functools.partial, or lambda via cloudpickle).
    """
    fn = extractor if extractor is not None else _fake_features

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "features": [fn(bytes(p)) for p in pdf["payload"]],
                }
            )

    return payloads.mapInPandas(extract, FEATURE_SCHEMA)


def fake_image_features(payloads: DataFrame) -> DataFrame:
    """:func:`image_features` with the deterministic fake extractor —
    kept as the named plumbing-test entry point."""
    return image_features(payloads)


RESIZE_SCHEMA = "doc_id long, width int, height int, payload binary"


def resize_images(
    payloads: DataFrame,
    width: int,
    height: int,
    resizer=None,
) -> DataFrame:
    """Image resize stage: (doc_id, payload) → (doc_id, width, height,
    payload) — 1→1 mapInPandas, bytes never leave the executor.

    ``resizer``: optional ``Callable[[bytes, int, int], bytes]`` — the
    real resize a deployment injects (PIL's ``Image.resize`` wrapped to
    bytes-in/bytes-out) with the identical plumbing (schema, batching,
    partitioning). Default: DETERMINISTIC FAKE (PIL absent in this
    container) — a content-derived stand-in sized width·height·3.
    """

    def _fake_resize(payload: bytes, w: int, h: int) -> bytes:
        digest = hashlib.sha256(payload).digest()
        need = w * h * 3
        return (digest * (need // len(digest) + 1))[:need]

    fn = resizer if resizer is not None else _fake_resize

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": width,
                    "height": height,
                    "payload": [
                        fn(bytes(p), width, height) for p in pdf["payload"]
                    ],
                }
            )

    return payloads.mapInPandas(stage, RESIZE_SCHEMA)


AUDIO_SCHEMA = "doc_id long, frame_idx int, start_ms long, n_samples long, rms double"


def audio_frame_energy(
    payloads: DataFrame,
    sample_rate: int = 16_000,
    frame_ms: int = 250,
    max_frames: int = 16,
) -> DataFrame:
    """Audio feature stage: one binary audio payload → N per-frame energy
    rows (doc_id, frame_idx, start_ms, n_samples, rms) — the same 1→N
    executor-side amplification contract as :func:`sample_frames`, for
    the audio modality (VAD / silence-trim / loudness-normalize are all
    this shape).

    DETERMINISTIC FAKE decoder (torchaudio/soundfile absent): payload
    bytes are interpreted directly as unsigned 8-bit PCM centered at
    127.5 — a real deployment swaps that one line for a codec call; the
    framing, RMS math and Spark plumbing are real and tested against a
    numpy reference.
    """
    spf = sample_rate * frame_ms // 1000  # samples per frame

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {
                "doc_id": [], "frame_idx": [], "start_ms": [],
                "n_samples": [], "rms": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # FAKE decode: bytes as u8 PCM, centered to [-0.5, 0.5)
                pcm = (
                    np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.float64)
                    - 127.5
                ) / 255.0
                n = min(max_frames, max(1, (len(pcm) + spf - 1) // spf))
                for i in range(n):
                    frame = pcm[i * spf : (i + 1) * spf]
                    if len(frame) == 0:
                        break
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["start_ms"].append(i * frame_ms)
                    rows["n_samples"].append(len(frame))
                    rows["rms"].append(float(np.sqrt(np.mean(frame**2))))
            yield pd.DataFrame(rows)

    return payloads.mapInPandas(stage, AUDIO_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, ts_ms long, frame binary"


def sample_frames(
    payloads: DataFrame, every_ms: int = 1000, max_frames: int = 8
) -> DataFrame:
    """Video frame-sampling stage: one binary video payload → N frame
    rows (doc_id, frame_idx, ts_ms, frame) — the 1→N mapInPandas shape
    (row amplification happens AFTER the scan, inside executors, so a
    100 TB video corpus never materializes frames in storage).

    DETERMINISTIC FAKE decoder (ffmpeg absent): frame count derives from
    payload length, frame bytes from a per-index sha256 — real plumbing,
    stubbed codec, same contract as a real extractor.
    """

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "ts_ms": [], "frame": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                n = min(max_frames, max(1, len(data) // 64))
                for i in range(n):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["ts_ms"].append(i * every_ms)
                    rows["frame"].append(
                        hashlib.sha256(data + i.to_bytes(4, "big")).digest()
                    )
            yield pd.DataFrame(rows)

    return payloads.mapInPandas(stage, FRAME_SCHEMA)
