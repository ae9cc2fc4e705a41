"""Seeded benchmark inputs, cached per seed as parquet under
``perfbench/.cache`` so repeated runs measure the engine, not the
generator.  Every corpus comes from ``generate_transcripts(n, seed)``."""

from __future__ import annotations

import os

import pandas as pd

from sonar_tantivy_spark.sources.transcripts import generate_transcripts

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
FIELD_TOKENIZERS = {"text": "en_stem", "role": "raw", "tool": "raw"}


def marker_word(seed: int, batch: int) -> str:
    """A word that appears in micro-batch ``batch`` and nowhere else."""
    return f"zqmark{seed}x{batch}"


def _generate(kind: str, n: int, seed: int, batch: int) -> pd.DataFrame:
    if kind == "start":
        return generate_transcripts(n, seed)
    # micro-batch: its own seed stream, conv ids prefixed so rows stay
    # unique across batches, and the batch marker in every 100th turn
    pdf = generate_transcripts(n, seed * 1000 + batch + 1)
    pdf["conv_id"] = f"b{batch:03d}-" + pdf["conv_id"]
    mark = marker_word(seed, batch)
    rows = pdf.index[::100]
    pdf.loc[rows, "text"] = pdf.loc[rows, "text"] + " " + mark
    return pdf


def corpus(kind: str, n: int, seed: int, batch: int = 0) -> tuple[pd.DataFrame, str]:
    """(rows, parquet path) of one generated input.  Rows are in
    (conv_id, turn_idx) order, so row position = docid inside its batch."""
    name = f"{kind}-n{n}-s{seed}-b{batch}.parquet"
    path = os.path.join(CACHE, name)
    if not os.path.exists(path):
        os.makedirs(CACHE, exist_ok=True)
        pdf = _generate(kind, n, seed, batch)
        out = pdf.copy()
        # UTC-aware timestamps read back as Spark TimestampType
        out["ts"] = out["ts"].dt.tz_localize("UTC")
        tmp = path + f".{os.getpid()}.tmp"
        out.to_parquet(tmp, index=False, coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        os.replace(tmp, path)
    pdf = pd.read_parquet(path)
    pdf["ts"] = pdf["ts"].dt.tz_convert(None).astype("datetime64[ns]")
    return pdf, path

