"""Multimodal (image + audio) dedup queries — the driver-visible face of
the perceptual-hash machinery in unmixing_spark/text/multimodal.py and
the spectral-fingerprint machinery in unmixing_spark/text/audio.py.

q_image_dhash_pairs runs the full image near-dup pipeline end-to-end:
deterministic synthetic images are rendered per doc_id (low-frequency
sinusoid mixes whose coarse luma structure survives JPEG quantization),
each doc contributes a lossless PNG original AND a lossy JPEG-q90
re-encode (a planted near-duplicate), every payload is decoded and
64-bit dHashed in one per-payload decode stage, and candidate pairs
come from the Manku-style banded (band,value)-keyed self-join — exact
for hamming < n_bands by pigeonhole, so the planted PNG/JPEG twins MUST
all surface. Registered rows-only (PNG/JPEG decode is not expressible
in the DuckDB oracle dialect); the numeric pins live in
tests/test_image_dedup.py (kernel vs an independent naive dHash, banded
join vs brute-force all-pairs, cross-codec hash stability).

Like the reference's visual outputs (utils.py as_array/as_raster handle
imagery as arrays, not SQL rows), this family is array-kernel work: the
Spark contribution is the decode/hash stage shape (Arrow-batched, one
pass) and the all-pairs-free candidate join — the 100 TB path, since
bucket rows are O(images x n_bands) and hot buckets are exact-duplicate
clusters that byte-level dedup removes first.

q_audio_fp_pairs is the same pipeline over audio: per-doc deterministic
noisy clips, each with a planted gain-scaled + decimate-by-2 WAV
re-encode twin, fingerprinted by audio.audio_fingerprint64 (Haitsma &
Kalker 2002 band/median bits — gain-exact, rate-robust) and paired by
the SAME generic banded join. Rows-only; pins in
tests/test_audio_dedup.py.

q_video_sig_pairs completes the modality triple: per-doc synthetic
videos (slowly drifting scenes), each with a planted twin that DROPS
every 7th frame and adds per-pixel noise; frames are sampled and
dHashed per frame (multimodal.frame_dhash), the 64-bit video signature
is the PER-BIT MAJORITY across sampled frames — computed in pure Spark
SQL aggregation, order-free so temporal misalignment is harmless — and
pairing again reuses the banded join. Rows-only; pins in
tests/test_video_dedup.py.

All three are one pipeline, ``twin_pairs``: the modality's row in
``MODALITIES`` supplies the per-doc original + planted twin and the
fingerprint stage; scripts/scaling_bench.py's media job runs the same
function over its own base.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unmixing_spark.boundary import map_rows
from unmixing_spark.pipeline import register_tables
from unmixing_spark.queries import QuerySpec, register
from unmixing_spark.text.audio import audio_fingerprints, encode_wav
from unmixing_spark.text.multimodal import (dhash_pairs, encode_fake_image,
                                            encode_png, image_dhash,
                                            video_signatures)

# Docs that contribute a media pair (one original + one planted twin
# per modality): bounded so each registry query prices the pipeline
# shape, not pure-Python codec throughput, at every sf. Volume grows in
# scripts/scaling_bench.py's media job (media_pairs), which runs this
# pipeline over N_DOCS x the replication factor.
N_DOCS = 96


def _media_parts(spark: SparkSession) -> int:
    """Fan-out for the Python codec stages (round-6, guide §2.5 input
    skew): N_DOCS synthetic payloads are the work units — spread them
    over the session's full parallelism instead of a fixed 8-way split
    that idled 3/4 of the cores through the heaviest Python stage.
    Capped by the work-unit count; scales with the session, not the
    host."""
    return max(1, min(N_DOCS // 2,
                      spark.sparkContext.defaultParallelism))


def render_page_image(seed: int) -> np.ndarray:
    """Deterministic smooth 48x64 RGB image for a doc: three low-frequency
    sinusoid planes (frequency/phase drawn from a doc-keyed RNG). Smooth
    content is the realistic case for perceptual dedup — JPEG
    quantization moves pixel values but not the 8x9 luma structure."""
    h, w = 48, 64
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    chans = []
    for _ in range(3):
        fy, fx = rng.uniform(0.5, 2.5, 2)
        py, px = rng.uniform(0, 2 * np.pi, 2)
        plane = (np.sin(2 * np.pi * fy * yy / h + py)
                 + np.cos(2 * np.pi * fx * xx / w + px))
        chans.append((plane - plane.min()) / (plane.max() - plane.min()))
    return (np.stack(chans, axis=-1) * 255).astype(np.uint8)


def _image_twins(seed: int) -> tuple[bytes, bytes]:
    """A lossless PNG original and its lossy JPEG-q90 re-encode."""
    # the JPEG codec is imported where it runs, not at registry time
    from unmixing_spark.text.jpeg import encode_jpeg

    img = render_page_image(seed)
    return encode_png(img), encode_jpeg(img, quality=90)


def render_page_audio(seed: int) -> np.ndarray:
    """Deterministic noisy 1 s, 8 kHz audio clip for a doc: five
    enveloped tones inside the fingerprint analysis band over an
    enveloped broadband floor — every band carries genuine energy, so the
    fingerprint's comparisons key on signal, not quantization noise."""
    rng = np.random.default_rng(seed)
    t = np.arange(8000) / 8000
    x = rng.normal(0, 0.15, t.shape)
    x *= 0.6 + 0.4 * np.sin(2 * np.pi * rng.uniform(0.5, 3.0) * t)
    for _ in range(5):
        f = rng.uniform(250, 1800)
        amp = rng.uniform(0.3, 1.0)
        ph = rng.uniform(0, 2 * np.pi)
        env = 0.5 + 0.5 * np.sin(2 * np.pi * rng.uniform(0.5, 3.0) * t)
        x = x + amp * np.sin(2 * np.pi * f * t + ph) * env
    x = x / np.max(np.abs(x))
    return np.rint(x * 20000).astype(np.int16)


def _audio_twins(seed: int) -> tuple[bytes, bytes]:
    """A WAV original and its gain x0.6, boxcar decimate-by-2 re-encode
    at half rate (the resample_audio kernel)."""
    x = render_page_audio(seed)
    y = np.rint(x * 0.6).astype(np.int16)
    n = (len(y) // 2) * 2
    dec = np.clip(np.rint(y[:n].astype(np.float64)
                          .reshape(-1, 2).mean(axis=1)),
                  -32768, 32767).astype(np.int16)
    return encode_wav(x, 8000), encode_wav(dec, 4000)


N_VIDEO_FRAMES = 20


def _box_blur(a: np.ndarray, r: int) -> np.ndarray:
    """Separable 2-D box filter via cumulative sums (unnormalized —
    callers rescale). Smooth-noise fields give dHash bits that are
    independent across seeds; sinusoid mixes do NOT (their majority
    signatures collided outright for 16 of 96 seeds)."""
    for ax in (0, 1):
        c = np.cumsum(a, axis=ax)
        n = a.shape[ax]
        lo = np.arange(n) - r - 1
        hi = np.clip(np.arange(n) + r, 0, n - 1)
        shape = (slice(None), None) if ax == 0 else (None, slice(None))
        a = (np.take(c, hi, axis=ax)
             - np.where((lo < 0)[shape], 0,
                        np.take(c, np.clip(lo, 0, n - 1), axis=ax)))
    return a


def render_video_frame(seed: int, t: int) -> np.ndarray:
    """32x40 frame t of a doc's deterministic synthetic video: a seed-keyed
    blurred-noise field viewed through a window that pans one pixel
    every 4 frames (a camera pan, so consecutive frames are highly
    correlated while unrelated videos are independent — measured cross
    signature distance >= 16 bits over 96 seeds, planted twins <= 4)."""
    h, w, margin = 32, 40, 24
    rng = np.random.default_rng(seed)
    field = _box_blur(rng.normal(0.0, 1.0, (h + margin, w + margin)), 4)
    s = t // 4
    win = field[s:s + h, s:s + w]
    win = (win - win.min()) / (win.max() - win.min())
    img = np.stack([win, win * 0.9 + 0.05, win * 0.8 + 0.1], axis=-1)
    return (img * 255).astype(np.uint8)


def render_page_video(seed: int, perturb: bool = False) -> bytes:
    """Concatenated fake-image frames; the perturbed twin drops every
    7th frame (temporal misalignment) and adds +-10 per-pixel noise (a
    lossy re-encode) — the distortions the majority vote must absorb."""
    frames = []
    for t in range(N_VIDEO_FRAMES):
        if perturb and t % 7 == 3:
            continue
        img = render_video_frame(seed, t).astype(np.int16)
        if perturb:
            rng = np.random.default_rng(seed * 1000 + t)
            img = np.clip(img + rng.integers(-10, 11, img.shape), 0, 255)
        frames.append(encode_fake_image(img.astype(np.uint8)))
    return b"".join(frames)


def _video_twins(seed: int) -> tuple[bytes, bytes]:
    return render_page_video(seed), render_page_video(seed, perturb=True)


# modality: (original + planted twin per doc id, the fingerprint stage
# over (id, payload) rows, its hash column)
MODALITIES = {
    "image": (_image_twins, image_dhash, "dhash"),
    "audio": (_audio_twins, audio_fingerprints, "fp"),
    "video": (_video_twins, partial(video_signatures, every_n=2), "vhash"),
}


def twin_pairs(base: DataFrame, modality: str) -> DataFrame:
    """The planted-pair near-dup pipeline over ``base``'s doc ids: each
    doc seeds an original (id ``2 * doc_id``) and its planted twin (id
    ``2 * doc_id + 1``) in one row-map stage, the modality's
    fingerprint hashes them, ``dhash_pairs`` joins them by hamming
    distance, and ``planted`` marks the twin pairs. Unordered."""
    twins, fingerprint, hash_col = MODALITIES[modality]

    def _gen(doc_id):
        for i, payload in enumerate(twins(int(doc_id))):
            yield 2 * int(doc_id) + i, bytearray(payload)

    docs = map_rows(base.select("doc_id"), _gen,
                    f"id long, {modality} binary")
    pairs = dhash_pairs(fingerprint(docs), hash_col=hash_col, max_hamming=7,
                        n_bands=8)
    return pairs.withColumn(
        "planted", ((F.col("id_a") % 2 == 0)
                    & (F.col("id_b") == F.col("id_a") + 1)).cast("int"))


def _media_query(modality: str):
    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir, ("documents",))
        base = (spark.table("documents")
                .select("doc_id").orderBy("doc_id").limit(N_DOCS)
                .repartition(_media_parts(spark), "doc_id"))
        return twin_pairs(base, modality).orderBy("id_a", "id_b")
    return spark_fn


register("q_image_dhash_pairs", QuerySpec(
    spark_fn=_media_query("image"),
    oracle=None,
    doc="image near-dup pairs: decode+dHash mapInPandas stage, banded "
        "hamming self-join (exact for hamming<n_bands); rows-only — "
        "pinned in tests/test_image_dedup.py"))

register("q_audio_fp_pairs", QuerySpec(
    spark_fn=_media_query("audio"),
    oracle=None,
    doc="audio near-dup pairs: decode+spectral-fingerprint mapInPandas "
        "stage, banded hamming self-join (exact for hamming<n_bands); "
        "rows-only — pinned in tests/test_audio_dedup.py"))

register("q_video_sig_pairs", QuerySpec(
    spark_fn=_media_query("video"),
    oracle=None,
    doc="video near-dup pairs: frame-sample + per-frame dHash, per-bit "
        "majority signature in pure SQL aggregation, banded hamming "
        "self-join; rows-only — pinned in tests/test_video_dedup.py"))
