"""Pure-numpy audio decode + spectral featurization + SimHash.

Replaces the reference's remote embedding service (Bedrock Titan,
/root/reference/backend/src/worker/deduplicator.rs:21-59) with local,
deterministic feature extraction: decode -> framed |rfft| -> log band
energies over coarse temporal segments -> 64-bit SimHash via seeded
random hyperplanes.  Cosine-similar signals (the reference's k-NN
criterion, deduplication_service.rs:300-372) map to small Hamming
distance here.

No external audio libraries (sandbox constraint); codecs supported:
  * pcm_s16le — raw little-endian 16-bit PCM, mono
  * pcm_mulaw / pcm_alaw — raw G.711 companded 8-bit (round 5)
  * wav       — RIFF/WAVE container: PCM16 (fmt 1), G.711 mu-law /
                A-law (fmt 7 / 6), and IMA ADPCM (fmt 0x11) 'data'
                chunks — the COMPRESSED real-decode branch for audio
                (round 5)
  * flac      — real LOSSLESS compressed decode (functions/flac.py,
                round 5): a wav->flac re-upload decodes bit-identical,
                so the pcm_exact tier catches the container flip with
                no new machinery

Every function is per-row deterministic and uses NO cross-row
statistics, so pipeline batching vs. oracle batching cannot change
results.  The PCM16 paths are bit-exact with earlier rounds; the new
codecs only add dispatch branches.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

from file_dedup_rust_spark.config import DedupConfig
from file_dedup_rust_spark.functions.hashing import rng_u64


def decode_pcm_s16le(data: bytes) -> np.ndarray:
    """Raw LE int16 mono -> float32 in [-1, 1)."""
    n = len(data) - (len(data) % 2)
    pcm = np.frombuffer(data[:n], dtype="<i2")
    return pcm.astype(np.float32) / 32768.0


# ---------------------------------------------------------------------------
# G.711 companding (ITU-T G.711): 8-bit mu-law / A-law <-> linear PCM.
# Table-driven decode (256 entries, built once); vectorized encode.
# ---------------------------------------------------------------------------


@lru_cache(maxsize=1)
def _mulaw_table() -> np.ndarray:
    u = ~np.arange(256, dtype=np.int32) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    out = np.where(sign != 0, -mag, mag).astype(np.int16)
    out.flags.writeable = False
    return out


@lru_cache(maxsize=1)
def _alaw_table() -> np.ndarray:
    a = np.arange(256, dtype=np.int32) ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    mag = np.where(
        exp > 0,
        ((mant << 4) + 0x108) << np.maximum(exp - 1, 0),
        (mant << 4) + 8,
    )
    # G.711 A-law: sign bit SET encodes a POSITIVE sample
    out = np.where(sign != 0, mag, -mag).astype(np.int16)
    out.flags.writeable = False
    return out


def decode_g711(data: bytes, law: str) -> np.ndarray:
    """8-bit G.711 bytes -> float32 in [-1, 1)."""
    tbl = _mulaw_table() if law == "mulaw" else _alaw_table()
    u8 = np.frombuffer(data, dtype=np.uint8)
    return tbl[u8].astype(np.float32) / 32768.0


def encode_mulaw(pcm: np.ndarray) -> bytes:
    """float [-1,1] -> G.711 mu-law bytes (tests/fixtures; standard
    bias-0x84 segment encoder, vectorized)."""
    x = np.clip(np.round(pcm * 32767.0), -32768, 32767).astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x) + 0x84, 0x7FFF)
    # exponent = position of the highest set bit above bit 7
    exp = np.maximum(np.floor(np.log2(mag)).astype(np.int32) - 7, 0)
    mant = (mag >> (exp + 3)) & 0x0F
    return ((~(sign | (exp << 4) | mant)) & 0xFF).astype(np.uint8).tobytes()


def encode_alaw(pcm: np.ndarray) -> bytes:
    """float [-1,1] -> G.711 A-law bytes (vectorized segment encoder)."""
    x = np.clip(np.round(pcm * 32767.0), -32768, 32767).astype(np.int32)
    sign = np.where(x >= 0, 0x80, 0)  # A-law: sign bit SET for positive
    mag = np.minimum(np.abs(x), 0x7FFF)
    exp = np.maximum(np.floor(np.log2(np.maximum(mag, 1))).astype(np.int32) - 7, 0)
    mant = np.where(exp > 0, (mag >> (exp + 3)) & 0x0F, (mag >> 4) & 0x0F)
    return (((sign | (exp << 4) | mant) ^ 0x55) & 0xFF).astype(np.uint8).tobytes()


# ---------------------------------------------------------------------------
# IMA ADPCM (DVI4, WAV format 0x11): 4-bit differential coding in
# self-contained blocks.  Decode iterates nibble POSITIONS (one numpy
# step per position, vectorized across all blocks) — sequential in
# samples-per-block, parallel in blocks, so cost is ~2 * 1010 numpy
# ops per payload regardless of length.
# ---------------------------------------------------------------------------

_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int32)

_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_step(pred, idx, nib):
    """One vectorized IMA ADPCM update across parallel block states."""
    step = _IMA_STEPS[idx]
    diff = step >> 3
    diff = diff + np.where(nib & 1, step >> 2, 0)
    diff = diff + np.where(nib & 2, step >> 1, 0)
    diff = diff + np.where(nib & 4, step, 0)
    pred = np.clip(
        np.where(nib & 8, pred - diff, pred + diff), -32768, 32767
    )
    idx = np.clip(idx + _IMA_INDEX[nib & 7], 0, 88)
    return pred, idx


def decode_ima_adpcm(data: bytes, block_align: int) -> np.ndarray:
    """Mono IMA ADPCM 'data' bytes -> float32 in [-1, 1).  Each block:
    4-byte header (int16 predictor, uint8 step index, reserved) +
    2 samples per payload byte."""
    if block_align < 8:
        raise ValueError("IMA ADPCM block_align too small")
    nb = len(data) // block_align
    if nb == 0:
        return np.zeros(0, dtype=np.float32)
    blocks = np.frombuffer(
        data, dtype=np.uint8, count=nb * block_align
    ).reshape(nb, block_align)
    pred = blocks[:, :2].copy().view("<i2")[:, 0].astype(np.int32)
    idx = np.clip(blocks[:, 2].astype(np.int32), 0, 88)
    payload = blocks[:, 4:]
    spb = 1 + payload.shape[1] * 2
    out = np.empty((nb, spb), dtype=np.int16)
    out[:, 0] = pred
    for j in range(payload.shape[1]):
        byte = payload[:, j].astype(np.int32)
        pred, idx = _ima_step(pred, idx, byte & 0x0F)
        out[:, 1 + 2 * j] = pred
        pred, idx = _ima_step(pred, idx, byte >> 4)
        out[:, 2 + 2 * j] = pred
    return out.reshape(-1).astype(np.float32) / 32768.0


def encode_ima_adpcm(pcm: np.ndarray, block_align: int = 1024) -> bytes:
    """float [-1,1] -> mono IMA ADPCM blocks (tests/fixtures; greedy
    standard quantizer, sequential — fixture-scale only)."""
    x = np.clip(np.round(pcm * 32767.0), -32768, 32767).astype(np.int32)
    spb = 1 + (block_align - 4) * 2
    out = bytearray()
    idx = 0  # step index carries across blocks (standard encoder)
    for s in range(0, len(x), spb):
        chunk = x[s : s + spb]
        if chunk.size == 0:
            break
        pred = int(chunk[0])
        out += struct.pack("<hBB", pred, idx, 0)
        nibs = []
        for v in chunk[1:]:
            step = int(_IMA_STEPS[idx])
            delta = int(v) - pred
            nib = 8 if delta < 0 else 0
            delta = abs(delta)
            diff = step >> 3
            if delta >= step:
                nib |= 4
                delta -= step
                diff += step
            if delta >= step >> 1:
                nib |= 2
                delta -= step >> 1
                diff += step >> 1
            if delta >= step >> 2:
                nib |= 1
                diff += step >> 2
            pred = int(np.clip(pred + (-diff if nib & 8 else diff),
                               -32768, 32767))
            idx = int(np.clip(idx + _IMA_INDEX[nib & 7], 0, 88))
            nibs.append(nib)
        if len(nibs) % 2:
            nibs.append(0)
        pairs = np.array(nibs, dtype=np.uint8).reshape(-1, 2)
        out += (pairs[:, 0] | (pairs[:, 1] << 4)).astype(np.uint8).tobytes()
        # pad the final partial block to block_align
        used = 4 + pairs.shape[0]
        if used < block_align and s + spb >= len(x):
            out += b"\x00" * (block_align - used)
    return bytes(out)


def decode_wav(data: bytes) -> np.ndarray:
    """RIFF/WAVE parser -> float32 mono in [-1, 1).

    Walks chunks (handles extra chunks like LIST).  Formats: 1 (PCM,
    16-bit — bit-exact with earlier rounds), 6 / 7 (G.711 A-law /
    mu-law, 8-bit), 0x11 (IMA ADPCM, 4-bit mono).  Multi-channel PCM
    and G.711 are averaged down to mono; anything else raises (the
    quarantine contract)."""
    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    n_channels, bits, block_align = 1, 16, 0
    audio_format = 1
    fmt_seen = False
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_format, n_channels = struct.unpack("<HH", body[0:4])
            (block_align,) = struct.unpack("<H", body[12:14])
            (bits,) = struct.unpack("<H", body[14:16])
            ok = (
                (audio_format == 1 and bits == 16)
                or (audio_format in (6, 7) and bits == 8)
                or (audio_format == 0x11 and bits == 4 and n_channels == 1)
            )
            if not ok:
                raise ValueError(
                    f"unsupported wav: fmt={audio_format} bits={bits}"
                )
            fmt_seen = True
        elif cid == b"data":
            if not fmt_seen:
                raise ValueError("wav data chunk before fmt chunk")
            if audio_format == 0x11:
                return decode_ima_adpcm(body, block_align)
            if audio_format in (6, 7):
                x = decode_g711(body, "alaw" if audio_format == 6 else "mulaw")
            else:
                pcm = np.frombuffer(
                    body[: len(body) - (len(body) % 2)], dtype="<i2"
                )
                x = pcm.astype(np.float32) / 32768.0
            if n_channels > 1:
                usable = (x.size // n_channels) * n_channels
                x = x[:usable].reshape(-1, n_channels).mean(axis=1)
            return x
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    raise ValueError("wav: no data chunk")


def decode_audio(data: bytes, codec: str) -> np.ndarray:
    """Codec dispatch (analog of the reference's extension dispatch,
    deduplication_service.rs:247-254)."""
    if codec == "pcm_s16le":
        return decode_pcm_s16le(data)
    if codec == "wav":
        return decode_wav(data)
    if codec == "pcm_mulaw":
        return decode_g711(data, "mulaw")
    if codec == "pcm_alaw":
        return decode_g711(data, "alaw")
    if codec == "flac":
        from file_dedup_rust_spark.functions.flac import decode_flac

        return decode_flac(data)
    raise ValueError(f"unsupported codec: {codec}")


def resample_linear(pcm: np.ndarray, sr_hz: int, out_hz: int) -> np.ndarray:
    """Deterministic linear-interpolation resample to `out_hz`.

    Identity (same array) when rates match — the canonical-rate tier
    must be a no-op for clips already at the canonical rate.  Output
    length is ((n-1) * out) // sr + 1 (integer domain: the last output
    sample never reads past the input).  Sample positions are computed
    as (i * sr) / out in float64 — the products are exact for any clip
    under ~2^53 / sr seconds, so the mapping is bit-reproducible
    everywhere, which is what lets one master resampled once and
    shipped at the low rate hash identically to the high-rate master
    canonicalized at ingest (see DedupConfig.cr_hz)."""
    if out_hz == sr_hz or pcm.size == 0:
        return pcm
    if pcm.size == 1:
        return pcm.astype(np.float32, copy=True)
    n_out = ((pcm.size - 1) * int(out_hz)) // int(sr_hz) + 1
    pos = (np.arange(n_out, dtype=np.float64) * float(sr_hz)) / float(out_hz)
    i0 = np.floor(pos).astype(np.int64)
    np.clip(i0, 0, pcm.size - 2, out=i0)
    frac = pos - i0
    x = pcm.astype(np.float64, copy=False)
    out = x[i0] * (1.0 - frac) + x[i0 + 1] * frac
    return out.astype(np.float32)


# full-scale int16 magnitude after the /32768 decode normalization:
# +32767 decodes to 32767/32768; -32768 decodes to -1.0 — both count
CLIP_FULL_SCALE = 32767.0 / 32768.0
SILENCE_EPS = 1e-3  # |sample| below ~-60 dBFS (|int16| < 33) is "silent"


def quality_metrics(pcm: np.ndarray) -> tuple[float, float, float]:
    """(clip_ratio, silence_ratio, dc_offset) of decoded float PCM.

    The corpus-quality companions to the dedup tiers: recordings that
    are mostly digital silence, hard-clipped at full scale, or carry a
    DC bias are low-value (often broken) training audio.  Pure numpy
    over the ALREADY-decoded samples — rides the single signature
    decode pass, never a second bytes scan.  Empty PCM reads as all
    silence."""
    if pcm.size == 0:
        return 0.0, 1.0, 0.0
    a = np.abs(pcm.astype(np.float64, copy=False))
    clip_ratio = float(np.count_nonzero(a >= CLIP_FULL_SCALE)) / pcm.size
    silence_ratio = float(np.count_nonzero(a < SILENCE_EPS)) / pcm.size
    dc_offset = float(np.mean(pcm.astype(np.float64, copy=False)))
    return clip_ratio, silence_ratio, dc_offset


def quantize_i16_canonical(pcm: np.ndarray) -> np.ndarray:
    """float PCM -> little-endian int16 on the CANONICAL x32768 grid —
    the exact inverse of the decoders' /32768 normalization, so
    decode -> quantize -> decode round-trips bit-identically.  The one
    shared definition behind canonical_pcm_sha and the segmenter's
    re-encode; encode_wav's x32767 scaling is deliberately different
    (a foreign quantizer, see the canonical-rate docs)."""
    return np.clip(
        np.round(pcm.astype(np.float64) * 32768.0), -32768, 32767
    ).astype("<i2")


def trim_silence(pcm: np.ndarray, eps: float) -> np.ndarray:
    """Strip leading/trailing samples with |x| < eps; interior silence
    is untouched (it is content — pauses carry timing information).

    The pad-invariant exact tier's kernel: re-uploads of the same
    recording routinely differ ONLY by silence padding (editor export
    defaults, fixed-length segmenters zero-filling the tail), which
    flips both the byte hash and the decoded-PCM hash.  Trimming before
    the canonical hash makes those collide while any audible change
    still separates.  Deterministic and O(n); an all-silent clip trims
    to empty (and the tier then groups all-silence re-uploads together,
    which is the right call for training data)."""
    if pcm.size == 0:
        return pcm
    live = np.flatnonzero(np.abs(pcm) >= eps)
    if live.size == 0:
        return pcm[:0]
    return pcm[live[0] : live[-1] + 1]


def spectral_rolloff(pcm: np.ndarray, frac: float = 0.95) -> float | None:
    """Nyquist-relative spectral rolloff: the fraction r in [0, 1] of
    the Nyquist band below which `frac` of the (DC-excluded) spectral
    energy sits.

    The band-limit / upsample-fraud detector's kernel: audio recorded
    at 8 kHz and re-shipped in a 44.1 kHz container claims ~5.5x the
    information it carries — its energy stops at ~0.36 of Nyquist,
    while genuine full-band content rolls off near 1.0.  This is the
    one-shot reference definition (a single rfft over the whole
    signal); the production signature pass uses rolloff_from_power
    over the framed spectra it already computes for the SimHash
    features — same estimate at n_fft//2+1 bin resolution, zero extra
    FFT work.  Empty / silent input reads as None."""
    if pcm.size < 16:
        return None
    spec = np.abs(np.fft.rfft(pcm.astype(np.float64))) ** 2
    return _rolloff_of_psd(spec, frac)


def _rolloff_of_psd(psd: np.ndarray, frac: float) -> float | None:
    psd = psd.copy()
    psd[0] = 0.0  # DC offset is not bandwidth
    tot = float(psd.sum())
    if tot <= 0.0 or psd.size < 2:
        return None
    idx = int(np.searchsorted(np.cumsum(psd), frac * tot))
    return float(min(idx, psd.size - 1) / (psd.size - 1))


def rolloff_from_power(mag: np.ndarray, frac: float = 0.95) -> float | None:
    """spectral_rolloff over an already-framed power spectrum
    (framed_power output): Welch-style mean PSD across frames, then
    the same frac-energy rolloff.  This is how the signature pass gets
    the band-limit metric for free — the (n_frames, n_bins) matrix is
    already in hand for the SimHash features."""
    if mag.size == 0:
        return None
    return _rolloff_of_psd(mag.sum(axis=0), frac)


def encode_wav(pcm: np.ndarray, sr_hz: int) -> bytes:
    """float [-1,1] -> RIFF/WAVE PCM16 mono bytes (datagen + tests)."""
    i16 = np.clip(np.round(pcm * 32767.0), -32768, 32767).astype("<i2")
    body = i16.tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr_hz, sr_hz * 2, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(body)) + body


def encode_wav_g711(pcm: np.ndarray, sr_hz: int, law: str = "mulaw") -> bytes:
    """float [-1,1] -> RIFF/WAVE G.711 mono bytes (fmt 7 mu-law /
    fmt 6 A-law) — the compressed-container test fixture."""
    body = encode_mulaw(pcm) if law == "mulaw" else encode_alaw(pcm)
    fmt_code = 7 if law == "mulaw" else 6
    hdr = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, fmt_code, 1, sr_hz, sr_hz, 1, 8
    )
    return hdr + fmt + b"data" + struct.pack("<I", len(body)) + body


def encode_wav_adpcm(
    pcm: np.ndarray, sr_hz: int, block_align: int = 1024
) -> bytes:
    """float [-1,1] -> RIFF/WAVE IMA ADPCM mono bytes (fmt 0x11)."""
    body = encode_ima_adpcm(pcm, block_align)
    spb = 1 + (block_align - 4) * 2
    hdr = b"RIFF" + struct.pack("<I", 40 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHHHH", 20, 0x11, 1, sr_hz,
        sr_hz * block_align // spb, block_align, 4, 2, spb,
    )
    return hdr + fmt + b"data" + struct.pack("<I", len(body)) + body


@lru_cache(maxsize=8)
def _hann(n_fft: int) -> np.ndarray:
    w = np.hanning(n_fft).astype(np.float32)
    w.flags.writeable = False
    return w


@lru_cache(maxsize=32)
def _band_edges(n_bins: int, n_bands: int) -> np.ndarray:
    edges = np.unique(
        np.round(np.geomspace(2, n_bins, n_bands + 1)).astype(int)
    )
    while edges.size < n_bands + 1:  # degenerate tiny-fft guard
        edges = np.append(edges, edges[-1] + 1)
    edges.flags.writeable = False
    return edges


def spectral_features(pcm: np.ndarray, sr_hz: int, cfg: DedupConfig) -> np.ndarray:
    """Per-row spectral contrast features, shape (n_segments * (n_bands-1),).

    Frames the first max_decode_seconds of audio (n_fft window, hop),
    takes |rfft| energy, pools it into n_bands log-spaced frequency
    bands and n_segments equal time segments, log-compresses, then
    keeps the ADJACENT-BAND DIFFERENCES (Haitsma/Kalker-style spectral
    contrasts).  Differences cancel the smooth spectral-envelope
    component every clip shares (band-width bias, loudness), which is
    what makes unrelated clips nearly orthogonal; raw log energies
    left unrelated cosines at ~0.78.  Measured on the synthetic
    corpus: unrelated Hamming >= 15/64, SNR-35dB near-dups <= 4/64.
    Per-row operations only — determinism under batching.
    """
    mag = framed_power(pcm, sr_hz, cfg)
    return features_from_power(mag, cfg)


def framed_power(pcm: np.ndarray, sr_hz: int, cfg: DedupConfig) -> np.ndarray:
    """The shared framed |rfft|² front half of spectral_features,
    shape (n_frames, n_fft//2+1) float64 — split out so the signature
    pass can derive BOTH the SimHash features and the band-limit
    rolloff metric from one FFT pass (identical operations in the
    original order: feature values are bit-stable across the split)."""
    max_samples = int(cfg.max_decode_seconds * sr_hz)
    # float32 end-to-end: decode already yields float32, and upcasting
    # doubled the kernel's memory traffic (the frame matrix is the
    # single biggest allocation per row) — the sign-of-projection
    # SimHash only needs ~1e-3 relative precision.  The log/contrast
    # accumulations in features_from_power run in float64 where
    # cancellation matters.
    x = np.ascontiguousarray(pcm[:max_samples], dtype=np.float32)
    if x.size < cfg.n_fft:
        x = np.pad(x, (0, cfg.n_fft - x.size))
    # RMS-normalize (gain invariance), guard silence
    rms = float(np.sqrt(np.mean(np.square(x, dtype=np.float64))))
    if rms > 1e-8:
        x = x / np.float32(rms)
    # strided frame view (no index-matrix allocation, no gather copy):
    # sliding_window_view(x, n_fft)[::hop] selects exactly the frames
    # the former `x[arange(n_fft) + hop*arange(n_frames)]` gather built
    # — the windowing product below is the only per-frame copy
    frames = (
        np.lib.stride_tricks.sliding_window_view(x, cfg.n_fft)[:: cfg.hop]
        * _hann(cfg.n_fft)[None, :]
    )
    # np.fft.rfft computes in double precision and returns complex128
    # regardless of input dtype, so the float32 savings end at the
    # frame matrix (the windowing product above) — the spectrum and
    # squared magnitude below are float64.  (scipy.fft.rfft would keep
    # float32 through the FFT, but scipy is not a declared dependency
    # and the float64 path is the tested/oracle-pinned one.)
    spec = np.fft.rfft(frames, axis=1)  # complex128
    return spec.real**2 + spec.imag**2  # float64 (n_frames, n_fft//2+1)


@lru_cache(maxsize=4096)
def _seg_bounds(n_frames: int, n_segments: int) -> tuple[np.ndarray, np.ndarray]:
    """(los, his) temporal-segment frame bounds — tiny int arrays, one
    pair per distinct frame count, so the per-row linspace/min/max of
    the former inline computation is paid once per length."""
    seg_bounds = np.linspace(0, n_frames, n_segments + 1).astype(int)
    los = np.minimum(seg_bounds[:-1], n_frames - 1)
    his = np.minimum(np.maximum(seg_bounds[1:], los + 1), n_frames)
    los.flags.writeable = False
    his.flags.writeable = False
    return los, his


def features_from_power(mag: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """The pooling/contrast back half of spectral_features over a
    framed_power matrix."""
    n_feat = cfg.n_segments * (cfg.n_bands - 1)
    n_frames = mag.shape[0]

    # log-spaced band edges over the bin axis (sample-rate independent
    # binning keeps the same *relative* bands; near-dups share sr)
    n_bins = mag.shape[1]
    edges = _band_edges(n_bins, cfg.n_bands)
    band_e = np.add.reduceat(mag, edges[:-1], axis=1)[:, : cfg.n_bands]

    # temporal pooling into n_segments equal chunks (vectorized via a
    # frame-axis prefix sum; degenerate segments clamp like before)
    los, his = _seg_bounds(n_frames, cfg.n_segments)
    csum = np.zeros((n_frames + 1, band_e.shape[1]), dtype=np.float64)
    np.cumsum(band_e, axis=0, out=csum[1:])
    feats = (csum[his] - csum[los]) / (his - los)[:, None]
    # log with a per-row floor (quiet bands can't be yanked around by
    # tiny absolute noise), then adjacent-band contrasts
    L = np.log(feats + 1e-4 * feats.mean() + 1e-300)
    v = (L[:, 1:] - L[:, :-1]).reshape(n_feat)
    # per-row standardize (NOT cross-row — determinism under batching)
    v = v - v.mean()
    nrm = np.linalg.norm(v)
    if nrm > 1e-12:
        v = v / nrm
    return v


def simhash_planes(cfg: DedupConfig) -> np.ndarray:
    """(simhash_bits, n_feat) deterministic Gaussian-ish hyperplanes.

    Built from seeded uint64 streams mapped to approximately-normal
    values via sums of uniforms (CLT); exact distribution is
    irrelevant, determinism and direction-spread are what matter.
    """
    n_feat = cfg.n_segments * (cfg.n_bands - 1)
    raw = rng_u64(cfg.simhash_seed, cfg.simhash_bits * n_feat * 4)
    # divide by the float64 value of 2^64 (exactly representable).  A
    # bare `/ 2**64` would pass a Python int ABOVE uint64 max, which
    # numpy promotes to an OBJECT array — every downstream projection
    # then runs Python-object arithmetic (~25x slower, measured round
    # 6).  Same quotients bit-for-bit; dtype float64.
    u = (raw.astype(np.float64) / np.float64(2**64)) - 0.5
    g = u.reshape(cfg.simhash_bits, n_feat, 4).sum(axis=2)
    return np.ascontiguousarray(g, dtype=np.float64)


def simhash64(features: np.ndarray, planes: np.ndarray) -> int:
    """Sign-of-projection 64-bit SimHash -> python int (int64 range)."""
    bits = (planes @ features) >= 0.0
    # pack 64 bits, MSB = bit 0 (packbits is MSB-first per byte; reading
    # the 8 bytes big-endian reproduces the former shift-loop exactly)
    if bits.size == 64:
        val = int(np.packbits(bits).view(">u8")[0])
    else:
        val = 0
        for b in bits:
            val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


@lru_cache(maxsize=16)
def _band_combos(n: int, r: int) -> np.ndarray:
    """(C(n,r), r) index array of all band combinations, lexicographic."""
    import itertools

    combos = np.array(list(itertools.combinations(range(n), r)), dtype=np.int64)
    combos.flags.writeable = False
    return combos


def simhash_band_keys(sim: int, cfg: DedupConfig) -> np.ndarray:
    """LSH keys for a 64-bit simhash: one key per unordered COMBINATION
    of cfg.sim_key_arity bands, C(sim_bands, arity) keys.

    Why combinations, not single bands: an 8-bit band has only 256
    values, so at n items every band bucket holds ~n/256 RANDOM
    members and candidate generation degenerates to ~n^2/256 pairs.
    Arity-a keys expose a*band_bits value bits; each +1 of arity cuts
    random collisions ~256x.  Pigeonhole guarantee: d dirty bits hit
    at most d bands, so any pair at Hamming distance d <= sim_bands -
    arity still shares >= arity clean bands = >= 1 clean key (arity 3:
    d <= 5; planted near-dups measure d <= 4 — config notes).  Pairs
    in the (hamming_max - guarantee] tail pass verification only if
    they collide by luck — the numpy oracle consumes these same keys,
    so pipeline and oracle agree bit-for-bit either way.
    """
    from file_dedup_rust_spark.functions.hashing import splitmix64

    u = np.uint64(sim & 0xFFFFFFFFFFFFFFFF)
    bb = cfg.sim_band_bits
    mask = np.uint64((1 << bb) - 1)
    shifts = (np.arange(cfg.sim_bands, dtype=np.uint64)) * np.uint64(bb)
    vals = (u >> shifts) & mask
    combos = _band_combos(cfg.sim_bands, cfg.sim_key_arity)
    # chained splitmix64 fold over (slot index, band values) — mixes
    # each member in fully so distinct combinations can't cancel
    acc = splitmix64(
        np.arange(combos.shape[0], dtype=np.uint64)
        ^ np.uint64(cfg.simhash_seed)
    )
    with np.errstate(over="ignore"):
        for c in range(combos.shape[1]):
            acc = splitmix64(acc ^ vals[combos[:, c]])
    return acc.astype(np.int64)


@lru_cache(maxsize=16)
def _band_key_acc0(n_combos: int, seed: int) -> np.ndarray:
    from file_dedup_rust_spark.functions.hashing import splitmix64

    acc = splitmix64(
        np.arange(n_combos, dtype=np.uint64) ^ np.uint64(seed)
    )
    acc.flags.writeable = False
    return acc


def simhash_band_keys_batch(sims: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """Vectorized simhash_band_keys across rows: (n,) int64 simhashes
    -> (n, C(sim_bands, arity)) int64 keys, each row bit-identical to
    simhash_band_keys(sim, cfg).  One splitmix64 chain over an
    (n, n_combos) matrix instead of `arity + 1` per-row calls — the
    per-row path measured ~16% of the whole signature batch (round 6).
    """
    from file_dedup_rust_spark.functions.hashing import splitmix64

    sims = np.asarray(sims, dtype=np.int64)
    u = sims.view(np.uint64)
    bb = cfg.sim_band_bits
    mask = np.uint64((1 << bb) - 1)
    shifts = np.arange(cfg.sim_bands, dtype=np.uint64) * np.uint64(bb)
    vals = (u[:, None] >> shifts[None, :]) & mask          # (n, bands)
    combos = _band_combos(cfg.sim_bands, cfg.sim_key_arity)
    acc0 = _band_key_acc0(combos.shape[0], cfg.simhash_seed)
    acc = np.broadcast_to(acc0, (u.size, acc0.size))
    with np.errstate(over="ignore"):
        for c in range(combos.shape[1]):
            acc = splitmix64(acc ^ vals[:, combos[:, c]])
    return acc.astype(np.int64)


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


FP_BANDS = 33  # 32-bit subfingerprints (Haitsma & Kalker 2002 layout)


@lru_cache(maxsize=32)
def _fp_band_edges(n_bins: int, n_bands: int) -> np.ndarray:
    """Strictly increasing band edges inside [1, n_bins] for reduceat.

    Prefers log spacing (perceptual bands); when rounding collapses
    edges at the low end (n_bands large vs n_bins, e.g. 33 bands over
    257 rfft bins), falls back to linear spacing — containment hashing
    needs DISTINCT stable bands, not perceptual ones, and the
    _band_edges guard of appending past n_bins would index out of
    range here."""
    e = np.unique(np.round(np.geomspace(2, n_bins, n_bands + 1)).astype(int))
    if e.size < n_bands + 1:
        e = np.unique(np.round(np.linspace(1, n_bins, n_bands + 1)).astype(int))
    e.flags.writeable = False
    return e


def frame_fingerprints(
    pcm: np.ndarray, sr_hz: int, cfg: DedupConfig, n_bands: int = FP_BANDS
) -> np.ndarray:
    """Per-FRAME audio subfingerprints for containment detection —
    one (n_bands-1)-bit hash per STFT frame (Haitsma & Kalker 2002,
    "A Highly Robust Audio Fingerprinting System": bit (f, m) is the
    sign of the band-energy difference differentiated along both
    frequency and time).

    Unlike spectral_features (one pooled vector per clip, feeds the
    whole-clip SimHash), this keeps the TIME AXIS: a clip embedded
    inside a longer recording at a hop-aligned offset reproduces the
    container's interior frame hashes exactly, because each frame's
    FFT sees only local samples and the frequency/time differences
    cancel gain.  Returns int64 array of length max(n_frames - 1, 0)
    (the first frame is consumed by the time derivative).
    """
    max_samples = int(cfg.max_decode_seconds * sr_hz)
    x = np.ascontiguousarray(pcm[:max_samples], dtype=np.float32)
    if x.size < cfg.n_fft:
        return np.empty(0, dtype=np.int64)
    frames = (
        np.lib.stride_tricks.sliding_window_view(x, cfg.n_fft)[:: cfg.hop]
        * _hann(cfg.n_fft)[None, :]
    )
    spec = np.fft.rfft(frames, axis=1)
    mag = spec.real**2 + spec.imag**2
    edges = _fp_band_edges(mag.shape[1], n_bands)
    band_e = np.add.reduceat(mag, edges[:-1], axis=1)[:, :n_bands]
    loge = np.log(band_e + 1e-12)
    d_freq = loge[:, :-1] - loge[:, 1:]        # (n_frames, n_bands-1)
    d_time = d_freq[1:, :] - d_freq[:-1, :]    # (n_frames-1, n_bands-1)
    bits = (d_time > 0).astype(np.uint64)
    weights = np.uint64(1) << np.arange(n_bands - 1, dtype=np.uint64)
    return (bits @ weights).astype(np.int64)
