"""Long-form audio segmentation: split clips into bounded, overlapping
training segments — the audio analog of text chunking
(operators/packing.py pack_chunks).

ASR/TTS trainers consume bounded-length windows (4-30 s), while a
crawled corpus carries arbitrary-length recordings.  The standard prep
is a sliding window with overlap and a snap-to-end final window so
coverage is total and every segment is full-size whenever the parent
allows it (shorter parents yield one whole-clip segment).

The reference repo has no analog (it treats every uploaded file as one
unit, backend/src/worker/deduplicator.rs:61-84).

Scale design.  One mapInPandas pass over the bytes column — decode
once, slice, re-quantize; linear in input audio, ZERO shuffle, and the
output rows carry lineage (parent_id, seg_idx, start_ms) so dedup /
quality stages downstream can always be joined back.  Segment bytes
are the CANONICAL int16 re-quantization (x32768, matching the
decoders' /32768), so a segment decodes BIT-IDENTICAL to the same
slice of its parent's decoded PCM — pinned in tests via pcm_sha
equality — which means the pcm_exact tier dedups a re-segmented
re-upload against an earlier segmentation run exactly.

Undecodable parents follow the quarantine convention (one decode_ok =
false row, never a job failure), matching the signature pass
(functions/udfs.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_dedup_rust_spark.functions import audio as A

SEGMENT_SCHEMA = (
    "clip_id string, parent_id string, seg_idx int, start_ms int, "
    "bytes binary, sr_hz int, dur_ms int, codec string, "
    "decode_ok boolean"
)


def segment_starts(n: int, win: int, stride: int) -> list[int]:
    """Deterministic window starts over n samples: 0, stride, ... while
    a full window fits, plus a final snap-to-end window (start = n -
    win) when the tail would otherwise be uncovered.  n <= win yields
    [0] (one whole-clip segment).  Total coverage requires stride <=
    win (segment_clips and DedupConfig validate it).  Pure function —
    the numpy oracle and tests share it."""
    if n <= win:
        return [0]
    starts = list(range(0, n - win + 1, stride))
    if starts[-1] + win < n:
        starts.append(n - win)
    return starts


def segment_clips(
    clips: DataFrame,
    win_s: float = 4.0,
    stride_s: float = 3.0,
) -> DataFrame:
    """clips(clip_id, bytes, sr_hz, codec, ...) -> one row per segment
    (SEGMENT_SCHEMA).  Segment ids are '{parent}#{idx:04d}' — stable,
    lexicographically ordered within a parent.  Transcripts are NOT
    copied onto segments (un-aligned text would duplicate per window;
    join on parent_id instead)."""
    if win_s <= 0 or stride_s <= 0:
        raise ValueError("win_s and stride_s must be positive")
    if stride_s > win_s:
        raise ValueError(
            "stride_s > win_s leaves uncovered gaps between windows — "
            "total coverage is this operator's contract (sampling is "
            "not); use stride_s <= win_s"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "clip_id": [], "parent_id": [], "seg_idx": [],
                "start_ms": [], "bytes": [], "sr_hz": [], "dur_ms": [],
                "codec": [], "decode_ok": [],
            }

            def emit(pid, idx, start_ms, body, sr, dur_ms, ok):
                out["clip_id"].append(f"{pid}#{idx:04d}" if ok else pid)
                out["parent_id"].append(pid)
                out["seg_idx"].append(idx)
                out["start_ms"].append(start_ms)
                out["bytes"].append(body)
                out["sr_hz"].append(sr)
                out["dur_ms"].append(dur_ms)
                out["codec"].append("pcm_s16le" if ok else None)
                out["decode_ok"].append(ok)

            for row in pdf.itertuples(index=False):
                sr = int(row.sr_hz)
                try:
                    pcm = A.decode_audio(
                        bytes(row.bytes) if row.bytes is not None else b"",
                        row.codec,
                    )
                    if pcm.size == 0:
                        raise ValueError("empty decode")
                except Exception:
                    emit(row.clip_id, -1, 0, None, sr, None, False)
                    continue
                win = max(int(win_s * sr), 1)
                stride = max(int(stride_s * sr), 1)
                # canonical re-quantization: decoded values of every
                # supported codec sit on the k/32768 grid, so the
                # round-trip is exact and a segment decodes
                # bit-identical to the parent slice
                i16 = A.quantize_i16_canonical(pcm)
                for idx, start in enumerate(
                    segment_starts(pcm.size, win, stride)
                ):
                    seg = i16[start : start + win]
                    emit(
                        row.clip_id, idx,
                        int(start * 1000 / sr),
                        seg.tobytes(), sr,
                        int(seg.size * 1000 / sr), True,
                    )
            yield pd.DataFrame(out)

    cols = ["clip_id", "bytes", "sr_hz", "codec"]
    return clips.select(*[F.col(c) for c in cols]).mapInPandas(
        run, schema=SEGMENT_SCHEMA
    )
