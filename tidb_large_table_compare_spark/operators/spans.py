"""Span-level text operators — substring dedup and RAG chunking.

BASELINE.json LLM-pipeline extensions (no counterpart in the reference; the
survey marks all text analysis **ext**). Two operators a training-data
pipeline needs beyond whole-document dedup:

- **duplicated spans**: token n-gram spans appearing in 2+ distinct
  documents — the substring-level counterpart of document dedup (cf. the
  "deduplicating training data" line of work): boilerplate headers, license
  blocks, and templated paragraphs recur across otherwise-distinct docs and
  inflate memorization. Plan shape: map-side n-gram construction per doc
  (higher-order array fns, no UDFs) → one shuffle keyed by the span →
  per-span distinct-doc counts. At 100 TB the span key should be the
  8-byte xxhash64 of the gram (flip ``hashed=True``) so the shuffle carries
  longs, exactly as `dedup.hashed_word_ngrams` does for whole-doc MinHash;
  the registry entry keeps the literal gram so the DuckDB oracle can
  value-check the strings.
- **token chunking**: fixed-size token windows with overlap (the RAG /
  context-packing layout). Pure per-row array arithmetic — zero shuffle;
  emits (doc_id, chunk_idx, start_tok, n_chunk_toks, md5) with the md5 of
  the chunk text as a cross-engine content witness.

Both tokenize with ``split(trim(text), ' +')`` — the same convention as
`textops.doc_fingerprint`, reproducible in DuckDB as
``regexp_split_to_array(trim(text), ' +')``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["position_ngrams", "duplicated_spans", "chunk_tokens"]


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), " +")


def position_ngrams(text: Column, n: int) -> Column:
    """All n-token spans of ``text`` (NOT deduplicated — one per position).

    Spans are joined with single spaces; texts shorter than ``n`` tokens map
    to an explicit empty array (`sequence(1, 0)` would count *down*, the same
    guard as `dedup.word_ngrams`). The text is tokenized once per row: the
    token array is the lambda variable of a one-element ``transform``, so the
    per-window lambda slices it instead of re-splitting the text.
    """

    def grams(toks: Column) -> Column:
        windows = F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.when(F.size(toks) >= n, windows).otherwise(
            F.array().cast("array<string>")
        )

    return F.transform(F.array(_tokens(text)), grams)[0]


def duplicated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
    hashed: bool = False,
) -> DataFrame:
    """Token n-gram spans shared by ``min_docs``+ distinct documents.

    Returns (span, n_docs, first_doc) — ``first_doc`` the minimum id holding
    the span, a deterministic representative. The per-doc `array_distinct`
    happens map-side, so the shuffle carries each (doc, span) pair once
    regardless of how often the span repeats inside one document; the
    aggregation is a plain hash-groupBy on the span key. Each document is
    tokenized once (`position_ngrams`), so span construction is O(tokens × n)
    per document; shuffle bytes are O(distinct doc-span pairs).

    ``hashed=True`` replaces the span string with its xxhash64 — the 100 TB
    configuration (8-byte shuffle keys); collision odds 2^-64.
    """
    spans = F.array_distinct(position_ngrams(F.col(text_col), n))
    exploded = docs.select(
        F.col(id_col), F.explode(spans).alias("span")
    )
    if hashed:
        exploded = exploded.withColumn("span", F.xxhash64("span"))
    return (
        exploded.groupBy("span")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def chunk_tokens(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping fixed-size token chunks per document (RAG layout).

    Chunk k starts at token ``1 + k*stride`` (1-based); chunks run to
    ``ceil((n_tokens - size) / stride)`` so the tail is always covered (the
    final chunk may be shorter than ``size`` but never empty). Emits
    (doc_id, chunk_idx, start_tok, n_chunk_toks, chunk_md5). Per-row array
    arithmetic over a token array bound once per row (the lambda variable of
    a one-element ``transform``), so each document costs O(chunks × size),
    and no shuffle; the downstream writer decides partitioning (cf.
    `plans/curate.py` packing).
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")

    def chunks(toks: Column) -> Column:
        n = F.size(toks)
        # number of chunks: 1 + ceil(max(0, n - size) / stride), integer-exact
        n_chunks = F.lit(1) + F.floor(
            (F.greatest(n - size, F.lit(0)) + stride - 1) / stride
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda k: F.struct(
                k.cast("bigint").alias("chunk_idx"),
                (k * stride + 1).cast("bigint").alias("start_tok"),
                # tokens hold no space, so this equals the token count of
                # the chunk text split on single spaces
                F.size(F.slice(toks, k * stride + 1, size))
                .cast("bigint")
                .alias("n_chunk_toks"),
                F.concat_ws(" ", F.slice(toks, k * stride + 1, size)).alias("__txt"),
            ),
        )

    # a NULL text chunks like an empty one: one empty chunk of one token
    toks = F.coalesce(_tokens(F.col(text_col)), F.array(F.lit("")))
    per_doc = F.transform(F.array(toks), chunks)[0]
    return docs.select(F.col(id_col), F.explode(per_doc).alias("c")).select(
        F.col(id_col),
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.start_tok").alias("start_tok"),
        F.col("c.n_chunk_toks").alias("n_chunk_toks"),
        F.md5(F.col("c.__txt").cast("binary")).alias("chunk_md5"),
    )
