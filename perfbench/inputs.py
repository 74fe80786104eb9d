"""Seeded inputs and their exact answers.

Every input is a pure function of the workload seed: the transcript
table comes from the package's own generator
(``sources.transcripts``), sized to a target row count, and the ingest
documents are transcript turns with planted exact re-sends and
one-token-appended near-copies of earlier batches.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def convs_for_rows(seed: int, target_rows: int, max_turns: int) -> tuple[int, int]:
    """Fewest conversations whose generated turns (each cut to at most
    ``max_turns``) reach ``target_rows``, and how many turns of the last
    one to keep so the total is exact."""
    from associationabacminer_spark.sources.transcripts import turns_per_conv

    n = max(1024, target_rows // 4)
    while True:
        cum = np.cumsum(np.minimum(turns_per_conv(np.arange(n), seed), max_turns))
        if cum[-1] >= target_rows:
            last = int(np.searchsorted(cum, target_rows))
            before = int(cum[last - 1]) if last else 0
            return last + 1, target_rows - before
        n *= 2


def write_transcripts(spark, path: str, seed: int, target_rows: int, max_turns: int) -> None:
    """Exactly ``target_rows`` turns: the last conversation is cut to a
    prefix of its turns.  Turn counts are Pareto-distributed (up to 20000
    per conversation), so without the cut one seed's table could be half
    again as large as another's.  ``max_turns`` cuts every conversation
    to a prefix of at most that many turns, so that no seed's table is
    dominated by a single conversation."""
    from pyspark.sql import functions as F

    from associationabacminer_spark.sources.transcripts import (
        generate_transcripts,
        transcripts_pdf,
    )

    n_convs, keep = convs_for_rows(seed, target_rows, max_turns)
    last_id = transcripts_pdf(np.array([n_convs - 1]), seed=seed)["conv_id"].iloc[0]
    generate_transcripts(spark, n_convs=n_convs, seed=seed).filter(
        (F.col("turn_idx") < max_turns)
        & ((F.col("conv_id") != last_id) | (F.col("turn_idx") < keep))
    ).write.mode("overwrite").parquet(path)


@dataclass
class TranscriptExact:
    """Exact answers over a transcript table."""

    rows: int
    distinct_convs: int
    tool_counts: dict[str, int]
    text_len: np.ndarray  # sorted
    latency_s: np.ndarray  # sorted inter-turn gaps
    ts_s: np.ndarray  # sorted turn timestamps, epoch seconds
    present_convs: list[str] = field(default_factory=list)


def transcript_exact(spark, path: str, seed: int, n_present: int = 256) -> TranscriptExact:
    from pyspark.sql import functions as F

    pdf = (
        spark.read.parquet(path)
        .select(
            "conv_id",
            "turn_idx",
            "tool",
            F.length("text").cast("double").alias("text_len"),
            F.col("ts").cast("double").alias("ts_s"),
        )
        .toPandas()
    )
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
    conv = pdf["conv_id"].to_numpy()
    ts = pdf["ts_s"].to_numpy()
    same = conv[1:] == conv[:-1]
    latency = np.sort((ts[1:] - ts[:-1])[same])
    convs = np.unique(conv)
    rng = np.random.default_rng(seed)
    return TranscriptExact(
        rows=len(pdf),
        distinct_convs=len(convs),
        tool_counts={
            k: int(v) for k, v in pdf["tool"].dropna().value_counts().items()
        },
        text_len=np.sort(pdf["text_len"].to_numpy()),
        latency_s=latency,
        ts_s=np.sort(ts),
        present_convs=[
            str(c) for c in rng.choice(convs, min(n_present, len(convs)), replace=False)
        ],
    )


@dataclass
class IngestBatches:
    """Document batches (``doc_id``, ``text``) and what was planted."""

    paths: list[str]
    docs: int
    planted_exact: set[int]
    planted_near: set[int]


def write_ingest_batches(
    out_dir: str,
    seed: int,
    n_batches: int,
    docs_per_batch: int,
    min_words: int = 12,
    exact_share: float = 0.1,
    near_share: float = 0.1,
) -> IngestBatches:
    """Transcript turns of at least ``min_words`` words become documents.
    Every batch after the first re-sends ``exact_share`` of the previous
    batch's fresh documents verbatim and ``near_share`` with one word
    appended; the rest are fresh turns."""
    from associationabacminer_spark.sources.transcripts import transcripts_pdf

    rng = np.random.default_rng(seed)
    n_plant = int(docs_per_batch * exact_share) + int(docs_per_batch * near_share)
    fresh_needed = docs_per_batch * n_batches - n_plant * (n_batches - 1)
    texts = np.empty(0, dtype=object)
    n_convs = max(64, fresh_needed // 3)
    while len(texts) < fresh_needed:
        turns = transcripts_pdf(np.arange(n_convs), seed=seed)["text"]
        texts = turns[turns.str.count(" ") + 1 >= min_words].drop_duplicates().to_numpy()
        n_convs *= 2
    texts = texts[:fresh_needed]
    words = np.array(" ".join(texts[:16]).split(), dtype=object)

    os.makedirs(out_dir, exist_ok=True)
    paths, planted_exact, planted_near = [], set(), set()
    cursor = 0
    prev_fresh: np.ndarray | None = None
    for b in range(n_batches):
        base = b * docs_per_batch
        if prev_fresh is None:
            n_fresh = docs_per_batch
            batch_text = list(texts[cursor : cursor + n_fresh])
        else:
            n_exact = int(docs_per_batch * exact_share)
            n_near = int(docs_per_batch * near_share)
            n_fresh = docs_per_batch - n_exact - n_near
            src = rng.choice(prev_fresh, n_exact + n_near, replace=False)
            batch_text = list(texts[cursor : cursor + n_fresh])
            batch_text += list(src[:n_exact])
            batch_text += [t + " " + rng.choice(words) for t in src[n_exact:]]
            planted_exact.update(range(base + n_fresh, base + n_fresh + n_exact))
            planted_near.update(range(base + n_fresh + n_exact, base + docs_per_batch))
        prev_fresh = texts[cursor : cursor + n_fresh]
        cursor += n_fresh
        order = rng.permutation(docs_per_batch)
        ids = np.arange(base, base + docs_per_batch, dtype=np.int64)
        table = pa.table(
            {
                "doc_id": ids[order],
                "text": pa.array(np.array(batch_text, dtype=object)[order], pa.string()),
            }
        )
        path = os.path.join(out_dir, f"batch_{b:02d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return IngestBatches(
        paths=paths,
        docs=docs_per_batch * n_batches,
        planted_exact=planted_exact,
        planted_near=planted_near,
    )


def kernel_inputs(seed: int, n: int = 200_000) -> dict[str, np.ndarray]:
    """Column-shaped arrays for the driver-side kernel measurements:
    64-bit key hashes (conv and tool) and two positive skewed values
    (text length and inter-turn latency)."""
    rng = np.random.default_rng(seed)
    conv_keys = rng.integers(-(2**63), 2**63 - 1, size=n // 10, dtype=np.int64)
    tool_keys = rng.integers(-(2**63), 2**63 - 1, size=50, dtype=np.int64)
    tool_p = 1.0 / np.arange(1, 51) ** 1.1
    return {
        "conv_h": conv_keys[rng.integers(0, len(conv_keys), size=n)],
        "tool_h": rng.choice(tool_keys, size=n, p=tool_p / tool_p.sum()),
        "text_len": np.round(np.exp(rng.normal(4.0, 1.0, size=n))),
        "latency_s": rng.exponential(20.0, size=n),
    }
