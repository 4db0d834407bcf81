"""Multimodal column pattern (SURVEY §2.C Q50): media as opaque binary
columns with typed metadata, processed by Arrow-vectorized batch UDFs.

The pattern at 100 TB: heavy payloads ride as ``binary`` cells (or lazy
URIs fetched executor-side), metadata rides as plain typed columns, and
every decode/feature step is a ``mapInPandas`` stage so bytes cross the
JVM↔Python boundary in Arrow batches, never row by row. Partitioning is by
the metadata (date/source), so media operators inherit pruning for free.

No media codec ships with the engine: the byte-level feature extractor,
frame sampler and content-defined chunker stand in for a decode step, so
the Spark-side plumbing (schema, batch shape, byte stats) is real and
oracle-checked.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def attach_payload(df: DataFrame, id_col: str, text_col: str,
                   source_col: str) -> DataFrame:
    """Testdata seam: synthesize a deterministic binary payload column from
    the document text (UTF-8 bytes) plus uri/mime metadata. In production
    the payload arrives from the storage layer; everything downstream is
    identical."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.concat(
            F.lit("mem://"), F.col(source_col), F.lit("/"),
            F.col(id_col).cast("string"), F.lit(".txt"),
        ).alias("uri"),
        F.lit("text/plain").alias("mime"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


_MAGIC_BYTES = 4


def payload_magic(payload: Column) -> Column:
    """Hex of the first four bytes — the format-sniff ('magic number')."""
    return F.hex(F.substring(payload, 1, _MAGIC_BYTES))


def sample_frame_batches(n_frames: int, frame_bytes: int = 16):
    """One-to-many frame sampling over binary payloads (the video
    frame-sample pattern): each payload row yields ``n_frames`` rows with
    evenly-spaced byte slices standing in for decoded frames.

    The Spark-side structure — mapInPandas expansion, declared schema,
    deterministic frame positions — is the real surface; a video codec
    would replace the slice with an actual frame decode at the marked
    point, nothing else changes.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_pos": [], "frame": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                step = max(1, len(payload) // n_frames)
                for k in range(n_frames):
                    pos = k * step
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(k)
                    out["frame_pos"].append(pos)
                    # >>> codec seam: replace slice with real frame decode <<<
                    out["frame"].append(payload[pos:pos + frame_bytes])
            yield pd.DataFrame(out)

    return sample


def sample_payload_frames(media: DataFrame, n_frames: int = 4,
                          frame_bytes: int = 16) -> DataFrame:
    """mapInPandas one-to-many: (doc_id, payload) → n_frames rows each."""
    return media.select("doc_id", "payload").mapInPandas(
        sample_frame_batches(n_frames, frame_bytes),
        "doc_id long, frame_idx long, frame_pos long, frame binary",
    )


# --- Content-defined chunking (CDC) over binary payloads ------------------
#
# The rsync/LBFS pattern: chunk boundaries are picked by a rolling hash of
# the CONTENT (boundary where hash % 2^k == 0), so an insertion shifts at
# most the chunk it lands in — byte-identical regions across payloads hash
# to the same chunks and dedup across the corpus. Constants are shared with
# the DuckDB oracle as literals (cdc_pow_table), and the hash is exact
# mod-p integer math, so results are bit-identical cross-engine.

CDC_WINDOW = 16
CDC_BASE = 31
CDC_MODULUS = (1 << 31) - 1
CDC_BOUNDARY_DIV = 64  # hash % 64 == 0 → ~64-byte expected chunks


def cdc_pow_table() -> list[int]:
    """[CDC_BASE^j mod p for j in 0..window-1] — the literals both engines
    embed; precomputed because 31^15 would overflow int64."""
    out, x = [], 1
    for _ in range(CDC_WINDOW):
        out.append(x)
        x = (x * CDC_BASE) % CDC_MODULUS
    return out


def cdc_chunk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched CDC: rolling hash H[i] = Σ_{j<min(w,i+1)} byte[i−j]·B^j
    mod p as ONE integer np.convolve per payload; boundary after byte i iff
    H[i] % 64 == 0; chunk ids are md5 of the chunk bytes. Terms stay under
    2^46 (255 · p · 16) — no overflow."""
    import hashlib

    import numpy as np

    pow_v = np.asarray(cdc_pow_table(), dtype="int64")
    for pdf in batches:
        out = {"doc_id": [], "chunk_idx": [], "chunk_hash": [], "chunk_len": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            payload = bytes(payload)
            a = np.frombuffer(payload, dtype=np.uint8).astype("int64")
            if len(a) == 0:
                continue
            h = np.convolve(a, pow_v)[: len(a)] % CDC_MODULUS
            cuts = list((np.nonzero(h % CDC_BOUNDARY_DIV == 0)[0] + 1))
            if not cuts or cuts[-1] != len(a):
                cuts.append(len(a))
            start = 0
            for idx, end in enumerate(cuts):
                seg = payload[start:end]
                out["doc_id"].append(doc_id)
                out["chunk_idx"].append(idx)
                out["chunk_hash"].append(hashlib.md5(seg).hexdigest())
                out["chunk_len"].append(end - start)
                start = end
        yield pd.DataFrame(out)


def cdc_chunks(media: DataFrame) -> DataFrame:
    """mapInPandas over (doc_id, payload) → one row per content-defined
    chunk: (doc_id, chunk_idx, chunk_hash, chunk_len)."""
    return media.select("doc_id", "payload").mapInPandas(
        cdc_chunk_batches,
        "doc_id long, chunk_idx long, chunk_hash string, chunk_len long",
    )


def byte_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic byte-level 'feature extraction' over Arrow batches —
    the stand-in for a decode step. mean_byte is exact-int-sum / length
    (bit-stable across engines); first/last bytes are raw metadata."""
    for pdf in batches:
        payloads = pdf["payload"]
        n = payloads.str.len().astype("int64")
        sums = payloads.map(lambda b: sum(b)).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n,
                "byte_sum": sums,
                "mean_byte": sums / n,
                "first_byte": payloads.map(lambda b: b[0]).astype("int64"),
                "last_byte": payloads.map(lambda b: b[-1]).astype("int64"),
            }
        )


def extract_byte_features(media: DataFrame) -> DataFrame:
    """mapInPandas over (doc_id, payload): one output row per media row
    with exact byte statistics. Batch-vectorized; schema declared up
    front so Catalyst prunes every other column out of the scan."""
    return media.select("doc_id", "payload").mapInPandas(
        byte_feature_batches,
        "doc_id long, n_bytes long, byte_sum long, mean_byte double, "
        "first_byte long, last_byte long",
    )
