"""Seeded generator for the audio ingest workloads.

Builds a speaker/chapter tree of PCM WAV clips (8-48 kHz, mono and
stereo, 26-130 KB each, so 0.1-8 s long) plus the edge cases the
reference scanner must handle, and a metadata side file whose rows hit
every lookup fallback level. Returns the expectations the output checks compare against, so
the engine only ever sees the generated files.

Edge cases written into every tree:
- two corrupt ``.wav`` files (a truncated header and a non-RIFF body),
  which the pipeline keeps as ``(0.0, 0)`` rows;
- one symlink to a real clip and one clip deeper than ``MAX_DEPTH``,
  which the scan excludes;
- the metadata file itself, inside the input tree, which the scan
  excludes.
"""

from __future__ import annotations

import csv
import json
import os
import struct
from dataclasses import dataclass, field

import numpy as np

MAX_DEPTH = 4
RATES = (8000, 11025, 16000, 22050, 32000, 44100, 48000)
LEVELS = ("l1", "l2", "l3", "miss")
CLIP_BYTES = (26_000, 130_000)


@dataclass
class AudioTree:
    """What the generator wrote and what a correct ingest must produce."""

    root: str
    metadata_file: str
    in_bytes: int = 0
    # relative_path -> (duration, sampling_rate) for every row the
    # pipeline must keep, corrupt files included as (0.0, 0)
    expected: dict = field(default_factory=dict)
    # relative_path -> lookup level ("l1", "l2", "l3", "miss")
    level: dict = field(default_factory=dict)
    corrupt: list = field(default_factory=list)
    excluded: list = field(default_factory=list)

    def level_counts(self) -> dict:
        counts = dict.fromkeys(LEVELS, 0)
        for lv in self.level.values():
            counts[lv] += 1
        return counts


def wav_bytes(frames: np.ndarray, rate: int) -> bytes:
    """16-bit PCM RIFF/WAVE file for ``frames`` shaped (n, channels)."""
    n, ch = frames.shape
    data = frames.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _clip(rng: np.random.Generator) -> tuple[bytes, float, int]:
    """One clip. Its PCM size is drawn first, uniformly from
    ``CLIP_BYTES`` (mean 78 KB, as in the sizing this workload follows:
    2000 clips of 156 MB in total, about 2.4 s of 16 kHz mono each);
    its length follows from the drawn rate and channel count."""
    rate = int(rng.choice(RATES))
    ch = int(rng.integers(1, 3))
    n = int(rng.integers(*CLIP_BYTES)) // (2 * ch)
    t = np.arange(n) / rate
    tone = np.sin(2 * np.pi * float(rng.uniform(100, 2000)) * t)
    noise = rng.normal(0, 0.05, (n, ch))
    frames = (tone[:, None] * 0.5 + noise) * 20000
    return wav_bytes(frames, rate), n / rate, rate


def make_tree(root: str, seed: int, n_clips: int, jsonl: bool) -> AudioTree:
    """Write ``n_clips`` clips plus edge cases under ``root``.

    ``jsonl=False`` writes a CSV side file: one row per matched clip
    plus a quarter as many unmatched rows. ``jsonl=True`` writes typed
    JSONL rows (bool, float, list and a column whose types conflict)
    with four unmatched rows per clip. About a tenth of the matched keys
    repeat at the end of the file with another value."""
    rng = np.random.default_rng(seed)
    meta_name = "metadata.jsonl" if jsonl else "metadata.csv"
    tree = AudioTree(root=root, metadata_file=os.path.join(root, meta_name))

    def put(rel: str, payload: bytes) -> None:
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(payload)
        tree.in_bytes += len(payload)

    for i in range(n_clips):
        rel = f"spk{i % 8:02d}/ch{i % 3:02d}/utt_{i:05d}.wav"
        payload, duration, rate = _clip(rng)
        put(rel, payload)
        tree.expected[rel] = (duration, rate)
        tree.level[rel] = LEVELS[int(rng.choice(4, p=(0.4, 0.25, 0.15, 0.2)))]

    truncated, _, _ = _clip(rng)
    for rel, payload in (
        ("spk00/ch00/broken_header.wav", truncated[:10]),
        ("spk01/ch01/not_riff.wav", b"ID3\x03" + bytes(rng.bytes(500))),
    ):
        put(rel, payload)
        tree.expected[rel] = (0.0, 0)
        tree.level[rel] = "miss"
        tree.corrupt.append(rel)

    deep = "a/b/c/d/deep.wav"  # 5 path segments > MAX_DEPTH
    put(deep, _clip(rng)[0])
    link = "spk02/ch00/link.wav"
    os.symlink(os.path.join(root, "spk00/ch00/utt_00000.wav"),
               os.path.join(root, link))
    tree.excluded += [deep, link, meta_name]

    rows, duplicates = [], []
    for rel, lv in tree.level.items():
        name = os.path.basename(rel)
        key = {"l1": {"relative_path": rel}, "l2": {"file_name": name},
               "l3": {"file_name": rel}}.get(lv)
        if key is None:
            continue
        rows.append({**key, "src_key": f"{lv}:{rel}"})
        if rng.random() < 0.1:
            duplicates.append({**key, "src_key": "duplicate"})
    n_unmatched = 4 * n_clips if jsonl else n_clips // 4
    rows += [{"relative_path": f"gone/utt_{j:06d}.wav", "src_key": "unmatched"}
             for j in range(n_unmatched)]
    rows = [rows[k] for k in rng.permutation(len(rows))]
    # repeated keys come last: first-wins must ignore them
    rows += duplicates
    for r in rows:
        r["transcription"] = f"text {int(rng.integers(0, 10**6))}"
        if jsonl:
            r["is_clean"] = bool(rng.random() < 0.5)
            r["snr"] = float(np.round(rng.uniform(0, 40), 3))
            r["tags"] = [str(x) for x in rng.choice(("a", "b", "c"), 2)]
            r["mixed"] = int(rng.integers(0, 9)) if rng.random() < 0.5 \
                else "v" + str(int(rng.integers(0, 9)))
        else:
            r["speaker"] = f"s{int(rng.integers(0, 50))}"
    with open(tree.metadata_file, "w", newline="") as f:
        if jsonl:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        else:
            cols = ["relative_path", "file_name", "src_key",
                    "transcription", "speaker"]
            w = csv.DictWriter(f, fieldnames=cols)
            w.writeheader()
            w.writerows(rows)
    return tree
