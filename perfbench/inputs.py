"""Seeded synthetic inputs, cached under a shape+seed fingerprint.

Inputs are ``synth.generate_transcripts`` tables written as parquet.
The engine only ever sees these files; the planted near-duplicate
pairs and per-batch turn counts go into a ``meta.json`` that only the
benchmark's output checks read.  Generation is benchmark work: the
run calls this module as a child process before it starts sampling
memory, and subtracts the child's wall time from ``setup_s``::

    python3 perfbench/inputs.py <work dir> <workload> <seed> <shape json>

prints the input directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from dataclasses import asdict, dataclass
from pathlib import Path

# Bump when generation changes in a way the shape dict does not show.
GEN_VERSION = 1
# Inputs kept per workload; older fingerprints are evicted.
KEEP_PER_WORKLOAD = 12


@dataclass(frozen=True)
class Shape:
    """What a workload's input looks like (``SynthConf`` fields)."""

    n_convs: int
    curve_len: int
    n_dup_pairs: int = 0
    giant_conv: bool = False
    burst_count: int = 3
    # ingest_refresh only: a base load of ``curve_len`` minutes, then
    # ``n_batches`` batches of ``batch_len`` minutes each, laid end to
    # end after the base.
    n_batches: int = 0
    batch_len: int = 0


def fingerprint(workload: str, shape: Shape, seed: int) -> str:
    blob = json.dumps(
        {"w": workload, "shape": asdict(shape), "seed": seed, "gen": GEN_VERSION},
        sort_keys=True,
    )
    return hashlib.sha1(blob.encode()).hexdigest()[:16]


def _synth(shape: Shape, seed: int, curve_len: int, giant: bool, dups: int):
    from peakmatch_xcorr_spark.synth import SynthConf, generate_transcripts

    return generate_transcripts(
        SynthConf(
            n_convs=shape.n_convs,
            curve_len=curve_len,
            n_dup_pairs=dups,
            giant_conv=giant,
            burst_count=shape.burst_count,
            seed=seed,
        )
    )


def _write(df, path: Path) -> int:
    df.to_parquet(path, index=False)
    return len(df)


def _generate(workload: str, shape: Shape, seed: int, out: Path) -> dict:
    meta: dict = {"workload": workload, "seed": seed, "shape": asdict(shape)}
    res = _synth(shape, seed, shape.curve_len, shape.giant_conv, shape.n_dup_pairs)
    meta["turns"] = _write(res.transcripts, out / "base.parquet")
    meta["dup_pairs"] = [list(p) for p in res.dup_pairs]
    meta["conv_turns"] = {c: int(v.sum()) for c, v in res.curves.items()}
    batches = []
    for k in range(shape.n_batches):
        # each batch is its own seeded draw, shifted to start where the
        # previous one ended: the stream continues the same conv_ids
        b = _synth(shape, seed * 1000 + k + 1, shape.batch_len, False, 0)
        t = b.transcripts
        shift = (shape.curve_len + k * shape.batch_len) * 60_000_000
        t["ts"] = (t["ts"].astype("int64") + shift).astype("datetime64[us]")
        batches.append(_write(t, out / f"batch{k:03d}.parquet"))
    meta["batch_turns"] = batches
    return meta


def ensure_inputs(work: Path, workload: str, shape: Shape, seed: int) -> tuple[Path, dict, float]:
    """Return (input dir, meta, seconds spent generating).  A cache hit
    costs nothing; a miss generates into a temp dir and renames it."""
    root = work / "inputs"
    root.mkdir(parents=True, exist_ok=True)
    d = root / f"{workload}-{fingerprint(workload, shape, seed)}"
    if (d / "meta.json").exists():
        return d, json.loads((d / "meta.json").read_text()), 0.0
    t0 = time.perf_counter()
    tmp = root / f".tmp-{d.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    meta = _generate(workload, shape, seed, tmp)
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    _evict(root, workload, keep=d)
    return d, meta, time.perf_counter() - t0


def _evict(root: Path, workload: str, keep: Path) -> None:
    mine = sorted(
        (p for p in root.glob(f"{workload}-*") if p != keep),
        key=lambda p: p.stat().st_mtime,
    )
    for p in mine[: max(0, len(mine) - (KEEP_PER_WORKLOAD - 1))]:
        shutil.rmtree(p, ignore_errors=True)


def main(argv: list[str]) -> int:
    work, workload, seed, shape = argv
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    d, _, _ = ensure_inputs(Path(work), workload, Shape(**json.loads(shape)), int(seed))
    print(d)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
