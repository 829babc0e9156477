"""Audio fingerprinting + near-duplicate detection (multimodal family).

ABSENT-IN-REFERENCE (SURVEY.md §2B north-star): a training-data
pipeline ingesting audio needs near-duplicate detection over SIGNAL,
not bytes — re-encoded, gain-shifted, or slightly-noisy copies share
no content_hash but the same spectral structure. Implemented after the
classic Haitsma-Kalker fingerprint (ISMIR 2002, public): per frame,
log-spaced band energies; bit (n, m) = sign of the time-and-band
double difference ``(E[n,m] - E[n,m+1]) - (E[n-1,m] - E[n-1,m+1])`` —
one 32-bit sub-fingerprint per frame. The double difference makes the
bits gain-invariant UP TO PCM QUANTIZATION: on float samples a global
gain multiplies every energy, log turns it into a constant offset, and
both differences cancel it exactly (unit test asserts bit-for-bit
equality). On the Spark path, clips arrive WAV-encoded as int16 PCM —
quantizing ``0.5 * x`` is not ``0.5 *`` quantizing ``x``, and a
double-difference sitting near zero can flip sign (measured: a
0.5x-gain copy of a 1 s clip flips 1 of 19 sub-fingerprints, overlap
0.947). Near-dup matching therefore thresholds on shared-fingerprint
overlap rather than asserting identity; the bits remain robust to mild
noise.

All DSP is real numpy (FFT, Hann window) over the repo's real stdlib
WAV decode (`multimodal._decode_audio`) + linear resampler; only
codec-bound formats (MP3 etc.) are gated upstream.

Scale shape: fingerprinting is Arrow-batched mapInPandas over the
byte-deduped media table (decode each distinct payload once); matching
is the paper's lookup-table idea as a JOIN — explode distinct
(clip, sub_fp) pairs, equi-join on the 4-byte sub-fingerprint, count
shared values per clip pair. Audio bytes never shuffle; hot
sub-fingerprints (digital silence, pure tones) are droppable with
``max_subfp_freq`` exactly like hot shingles in the text path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dwh_with_dask_spark.operators.multimodal import (
    _decode_audio,
    _resample_linear,
)

AUDIO_FP_SCHEMA = "content_hash string, n_frames int, fp array<int>"


def _band_edges(bands: int, fmin: float, fmax: float) -> np.ndarray:
    """bands+1 log-spaced edge frequencies in [fmin, fmax]."""
    return fmin * (fmax / fmin) ** (np.arange(bands + 1) / bands)


def fingerprint_samples(
    x: np.ndarray,
    rate: int = 8000,
    frame: int = 2048,
    hop: int = 512,
    bands: int = 33,
    fmin: float = 300.0,
    fmax: float = 2000.0,
) -> list[int]:
    """Sub-fingerprints (one signed int32 per frame after the first)
    of a mono float PCM buffer — pure numpy, deterministic."""
    if len(x) < frame + hop:
        return []
    n_frames = 1 + (len(x) - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
    win = np.hanning(frame)
    spec = np.abs(np.fft.rfft(x[idx] * win, axis=1)) ** 2
    freqs = np.fft.rfftfreq(frame, 1.0 / rate)
    edges = _band_edges(bands, fmin, fmax)
    cut = np.searchsorted(freqs, edges)
    e = np.stack(
        [spec[:, cut[b] : cut[b + 1]].sum(axis=1) for b in range(bands)],
        axis=1,
    )
    e = np.log(e + 1e-12)
    d = e[:, :-1] - e[:, 1:]  # band difference, bands-1 = 32 columns
    dd = d[1:] - d[:-1]  # time difference
    bits = (dd > 0).astype(np.uint64)
    weights = (1 << np.arange(bits.shape[1], dtype=np.uint64))[None, :]
    vals = (bits * weights).sum(axis=1)
    return [int(v) - (1 << 32) if v >= (1 << 31) else int(v) for v in vals]


def audio_fingerprints(
    media: DataFrame,
    rate: int = 8000,
    frame: int = 2048,
    hop: int = 512,
) -> DataFrame:
    """(content_hash, n_frames, fp) per distinct payload — decode once
    per content_hash, resample to ``rate``, Haitsma-Kalker bits."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content_hash, content in zip(
                pdf["content_hash"], pdf["content"]
            ):
                samples, sr = _decode_audio(bytes(content))
                if sr != rate:
                    samples = _resample_linear(samples, sr, rate)
                fp = fingerprint_samples(
                    np.asarray(samples, dtype=np.float64),
                    rate=rate,
                    frame=frame,
                    hop=hop,
                )
                rows.append(
                    {
                        "content_hash": content_hash,
                        "n_frames": len(fp),
                        "fp": fp,
                    }
                )
            yield pd.DataFrame(rows, columns=["content_hash", "n_frames", "fp"])

    deduped = media.dropDuplicates(["content_hash"]).select(
        "content_hash", "content"
    )
    return deduped.mapInPandas(run, schema=AUDIO_FP_SCHEMA)


def audio_near_dup_pairs(
    media: DataFrame,
    min_shared: int = 4,
    max_subfp_freq: int | None = None,
    rate: int = 8000,
    scope=None,
) -> DataFrame:
    """(hash_a, hash_b, n_shared, overlap) — clip pairs sharing at
    least ``min_shared`` distinct exact sub-fingerprints (the paper's
    lookup-table match as an equi-join). ``overlap`` = n_shared /
    min(frames) for a size-normalized score. A near-duplicate (gain
    shift, mild noise, re-encode) keeps most frame bits identical so
    whole sub-fingerprints still collide; unrelated audio collides on
    ~0 frames. ``max_subfp_freq`` drops sub-fingerprints present in
    more than that many clips (digital silence, test tones) before the
    self-join — the hot-key guard, same contract as the shingle cap.

    A gain-shifted or lightly-noisy PCM copy scores overlap near (not
    exactly) 1.0 — see the module docstring's quantization note; pick
    thresholds accordingly (>= 0.9 finds gain/noise copies in tests).
    """
    from dwh_with_dask_spark.operators.caching import CacheScope

    # Persisted: the fingerprint table feeds BOTH join sides — without
    # it each side re-decodes every clip. Lifecycle: caller-owned via
    # ``scope`` (operators.caching), released after the final action.
    scope = scope or CacheScope()
    fps = scope.persist(audio_fingerprints(media, rate=rate))
    sub = fps.select(
        F.col("content_hash").alias("id"),
        F.col("n_frames"),
        F.explode("fp").alias("sub_fp"),
    ).dropDuplicates(["id", "sub_fp"])
    if max_subfp_freq is not None:
        hot = (
            sub.groupBy("sub_fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_subfp_freq)
            .select("sub_fp")
        )
        sub = sub.join(F.broadcast(hot), "sub_fp", "left_anti")
    a = sub.select(
        F.col("id").alias("hash_a"),
        F.col("n_frames").alias("fa"),
        "sub_fp",
    )
    b = sub.select(
        F.col("id").alias("hash_b"),
        F.col("n_frames").alias("fb"),
        "sub_fp",
    )
    out = (
        a.join(b, "sub_fp")
        .filter(F.col("hash_a") < F.col("hash_b"))
        .groupBy("hash_a", "hash_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.first("fa").alias("__fa"),
            F.first("fb").alias("__fb"),
        )
        .filter(F.col("n_shared") >= min_shared)
        .select(
            "hash_a",
            "hash_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least("__fa", "__fb").cast("double")
            ).alias("overlap"),
        )
    )
    return out
