"""Audio as opaque binary columns: real WAV (RIFF PCM) codec + Arrow-
batched feature extraction / resampling operators.

The task brief's multimodal axis names audio alongside images and video.
WAV/PCM is simple enough to implement FOR REAL from the public RIFF spec
(no external libs): 16-bit little-endian PCM, mono or interleaved
multi-channel. Compressed codecs (MP3, AAC, Opus) raise
NotImplementedError — the Spark-side plumbing (binary column, row map,
schema) is identical for them; only the per-payload decode call
changes.

Operators mirror multimodal.py's image patterns:
- audio_features: decode + duration / RMS / zero-crossing-rate / peak per
  clip (the stats a speech-corpus filter like VoxPopuli or YODAS keys on).
- resample_audio: integer-factor decimation with a boxcar prefilter
  (declared simple lowpass — a production resampler uses a windowed-sinc
  polyphase filter; same stage shape).
- audio_fingerprints: decode + 64-bit spectral fingerprint per clip.
Each decodes one payload per Python call (numpy within the clip) and
crosses the Arrow boundary through ``boundary.map_rows``.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from unmixing_spark.boundary import map_rows


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """(n,) or (n, channels) int16 → canonical 44-byte-header RIFF WAV."""
    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    data = arr.tobytes()  # interleaved little-endian PCM16
    block = ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * block, block, 16)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF WAV → ((n, channels) int16 array, sample rate). PCM16 only;
    other formats (float, ADPCM, extensible) raise NotImplementedError.
    Chunk walk per the RIFF spec: unknown chunks (LIST, fact, ...) are
    skipped, word-aligned."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    off, end = 12, 8 + struct.unpack("<I", payload[4:8])[0]
    fmt = data = None
    while off + 8 <= min(end, len(payload)):
        cid = payload[off:off + 4]
        size = struct.unpack("<I", payload[off + 4:off + 8])[0]
        body = payload[off + 8:off + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        off += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, ch, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError(
            f"only PCM16 WAV is implemented (fmt={audio_fmt}, bits={bits})")
    arr = np.frombuffer(data, dtype="<i2")
    return arr.reshape(-1, ch), rate


def audio_features(clips: DataFrame) -> DataFrame:
    """Per-clip (id, audio) decode + stats: duration, RMS level (dBFS),
    zero-crossing rate, peak amplitude — the silence/clipping filters a
    speech-corpus pipeline keys on. One Python decode per payload."""
    schema = ("id long, channels int, rate int, n_samples long, "
              "duration_s double, rms_dbfs double, zcr double, peak int")

    def _feat(i, payload):
        arr, rate = decode_wav(bytes(payload))
        x = arr.astype(np.float64)
        n = arr.shape[0]
        rms = float(np.sqrt(np.mean(x ** 2))) if n else 0.0
        mono = x.mean(axis=1)
        zc = (float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
              if n > 1 else 0.0)
        yield (int(i), arr.shape[1], int(rate), n, n / rate,
               20.0 * np.log10(rms / 32768.0) if rms > 0 else float("-inf"),
               zc, int(np.max(np.abs(x))) if n else 0)

    return map_rows(clips.select("id", "audio"), _feat, schema)


def resample_audio(clips: DataFrame, factor: int) -> DataFrame:
    """Integer-factor downsample of each (id, audio) clip: boxcar
    (moving-average) prefilter over each factor-sized window, then
    decimate — binary→binary, rate/factor in the re-encoded header. Tail
    samples that do not fill a window are dropped (declared; a polyphase
    resampler would consume them)."""
    def _resample(i, payload):
        arr, rate = decode_wav(bytes(payload))
        n = (arr.shape[0] // factor) * factor
        win = arr[:n].astype(np.float64)
        win = win.reshape(-1, factor, arr.shape[1]).mean(axis=1)
        out = np.clip(np.rint(win), -32768, 32767).astype(np.int16)
        yield int(i), encode_wav(out, rate // factor)

    return map_rows(clips.select("id", "audio"), _resample,
                    "id long, audio binary")


def audio_fingerprint64(arr: np.ndarray, rate: int, n_t: int = 8,
                        n_b: int = 8, f_lo: float = 200.0,
                        f_hi: float = 2000.0) -> int:
    """64-bit spectral fingerprint (the Haitsma & Kalker 2002 binary
    band-energy construction, folded to one word the way dhash64 folds
    an image): mono mix → n_t equal time slices → Hann-windowed DFT
    power summed into n_b log-spaced bands between f_lo and f_hi Hz →
    bit[t,b] = E[t,b] > per-band median over slices, packed band-major
    MSB-first.

    Invariances by construction: gain (comparisons survive positive
    scaling exactly), sample rate (band edges are ABSOLUTE Hz — never
    rescaled to Nyquist, or a decimated re-encode would compare
    different frequency ranges entirely — and time slices are duration
    fractions), and approximately any time-invariant filter (a filter
    scales a band's whole time series by ~one factor, which the
    above-median test ignores). Measured on noisy sinusoid-mix clips:
    gain x0.5 = 0 flipped bits, boxcar decimate-by-2 re-encode ≤ 4,
    unrelated clips ≥ 16 — so max_hamming=7 with the 8-band blocked
    join separates them with margin. Analysis band needs rate ≥ 2*f_hi.
    Returned SIGNED 64-bit for a Spark ``bigint`` column, pairable with
    multimodal.dhash_pairs(hash_col='fp')."""
    x = np.asarray(arr, dtype=np.float64)
    if x.ndim == 2:
        x = x.mean(axis=1)
    n = x.shape[0]
    if n < 2 * n_t:
        raise ValueError(f"clip too short to fingerprint ({n} samples)")
    edges = np.geomspace(f_lo, f_hi, n_b + 1)
    bounds = np.arange(n_t + 1) * n // n_t
    energy = np.zeros((n_t, n_b))
    for t in range(n_t):
        seg = x[bounds[t]:bounds[t + 1]]
        win = np.hanning(seg.shape[0])
        power = np.abs(np.fft.rfft(seg * win)) ** 2
        freqs = np.fft.rfftfreq(seg.shape[0], 1.0 / rate)
        idx = np.searchsorted(edges, freqs, side="right") - 1
        for b in range(n_b):
            energy[t, b] = power[idx == b].sum()
    med = np.median(energy, axis=0)
    v = 0
    for bit in (energy > med[None, :]).T.reshape(-1):
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_fingerprints(clips: DataFrame) -> DataFrame:
    """Per-clip (id, audio) decode + fingerprint, (id, fp bigint) out —
    the map side of audio near-dup dedup; the join side is
    multimodal.dhash_pairs(hash_col='fp'), pure DataFrame ops over
    bit-slice buckets, exactly as with images."""

    def _fp(i, payload):
        yield int(i), audio_fingerprint64(*decode_wav(bytes(payload)))

    return map_rows(clips.select("id", "audio"), _fp, "id long, fp long")
