"""Byte-pair-encoding (BPE) merge-table training, Spark-first.

The tokenizer-training step of an LLM data pipeline: learn the top-N
pair merges over a corpus.  The reference has no tokenizer op (brief-
mandated LLM-pipeline extension); the algorithm is the classic
Sennrich-style iterative pair merge.

Scale design — the working set is the VOCABULARY, not the corpus:

1. One corpus pass: tokenize + ``groupBy(word).count()`` — after this,
   every round operates on distinct words with multiplicities (bounded
   in the millions at any corpus size, vs trillions of tokens).
2. Per merge round: adjacent-pair counts are a narrow index-transform +
   explode + one SMALL groupBy (|pairs| keys); the argmax pair comes to
   the driver (one tiny action per round — the merge table is driver-
   sized by definition); applying the merge is a per-row JVM fold
   (``aggregate``), no Python, no shuffle.
3. The sequence frame's lineage is cut each round so the plan stays
   flat instead of stacking N fold projections.

Symbols stay within ``[a-z]`` (tokens come from a lowercase letter
regex), so merge literals embed safely in SQL expressions.

``bpe_train`` returns the merge table; ``bpe_encode_expr`` applies a
learned table to a symbol-array column (chained folds — fine for
batch encode of scoped corpora; a production encoder would bake the
table into a broadcast trie + pandas UDF).

Cross-checked against a pure-Python reference implementation in
``tests/test_bpe.py`` (same contract as the minhash fold crosscheck).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .iterate import cut_lineage

_WORD_RE = "[a-z]+"


def _merge_fold_expr(col: str, left: str, right: str) -> str:
    """Left-to-right non-overlapping single-rule merge of (left, right) in
    a symbol array, as a JVM aggregate fold."""
    merged = left + right
    return (
        f"aggregate({col}, cast(array() as array<string>), (acc, x) -> "
        f"case when size(acc) > 0 and element_at(acc, -1) = '{left}' "
        f"and x = '{right}' "
        f"then concat(slice(acc, 1, size(acc) - 1), array('{merged}')) "
        f"else concat(acc, array(x)) end)"
    )


def word_frequencies(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, weight) vocabulary frame — the one corpus-sized pass."""
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 16,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merge rules; returns
    ``[(rank, left, right, pair_weight), ...]`` (driver-side — the merge
    table IS the model and is tiny by construction).

    Ties break on (left, right) lexicographic order for cross-engine
    determinism."""
    vocab = word_frequencies(docs, text_col)
    seqs = vocab.select(
        "weight", F.split("word", "").alias("syms")
    ).transform(cut_lineage, eager=True)

    pair_expr = (
        "transform(slice(syms, 1, size(syms) - 1), "
        "(x, i) -> struct(x as l, element_at(syms, i + 2) as r))"
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        best = (
            seqs.select("weight", F.explode(F.expr(pair_expr)).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("weight").alias("w"))
            .orderBy(F.col("w").desc(), "l", "r")
            .first()
        )
        if best is None or best["w"] is None:
            break
        left, right, weight = best["l"], best["r"], int(best["w"])
        merges.append((rank, left, right, weight))
        seqs = seqs.select(
            "weight", F.expr(_merge_fold_expr("syms", left, right)).alias("syms")
        ).transform(cut_lineage, eager=True)
    return merges


def bpe_encode_expr(col: str, merges: list[tuple[int, str, str, int]]) -> str:
    """SQL expression applying a learned merge table to a symbol-array
    column, rule by rule in rank order (the BPE encode contract)."""
    expr = col
    for _, left, right, _ in merges:
        expr = _merge_fold_expr(f"({expr})", left, right)
    return expr
