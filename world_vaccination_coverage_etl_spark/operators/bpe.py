"""BPE merge-rule learning over a document corpus.

Byte-pair-encoding tokenizer training (Sennrich et al. 2016,
arXiv:1508.07909) is corpus-scale work with a model-scale loop — the
same decomposition as k-means (operators/clustering.py):

1. **corpus → word-frequency table** (the only full-data pass): one
   hash shuffle reduces every token occurrence to ``(word, count)`` —
   vocabulary-sized, typically 5-7 orders of magnitude smaller than a
   100 TB corpus.
2. **merge loop over the vocab table**: each iteration counts adjacent
   symbol pairs (row-local zip of each word's symbol array against its
   own shift, weighted by word count — one vocab-sized partial-agged
   shuffle), picks the most frequent pair on the driver (one tiny
   ``max_by`` row), and applies the merge ROW-LOCALLY via an
   ``aggregate()`` fold over each word's symbols.  Nothing
   corpus-sized is touched again.

Determinism: ties on pair count break lexicographically (smallest
(left, right) wins) so the learned merge sequence is reproducible
across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .staging import stage
from .text import _tokens


def _word_freq(df: DataFrame, text_col: str) -> DataFrame:
    return (
        df.select(F.explode(_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def _apply_merge(sym_col: F.Column, left: str, right: str) -> F.Column:
    """Fold a symbol array, merging every adjacent (left, right) pair.

    Left-to-right single pass with an accumulator array — matches the
    reference BPE semantics (after 'aa'+'aa'→'aaaa' on 'aa aa aa', the
    third 'aa' stays unmerged).  Pure JVM ``aggregate()`` fold; the
    arrays are word-length, the rows vocab-count.
    """
    merged = left + right
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn the first ``n_merges`` BPE merge rules from a corpus.

    Returns ``[(left, right, pair_count), ...]`` in learned order.
    Stops early when no adjacent pair occurs twice.
    """
    vocab = _word_freq(df, text_col).select(
        "wc", F.split(F.col("word"), "").alias("syms")
    )
    # the loop re-reads `vocab` once per iteration; cut lineage so the
    # full corpus pass runs once (vocab-sized cache, like the k-means
    # assignment table)
    vocab = stage(vocab, lazy=True)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = vocab.select(
            "wc",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("a"),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("b"),
                )
            ).alias("p"),
        ).groupBy(
            F.col("p.a").alias("a"), F.col("p.b").alias("b")
        ).agg(F.sum("wc").alias("c"))
        top = (
            pairs.orderBy(F.desc("c"), "a", "b").limit(1).collect()
        )  # one model-sized row
        if not top or top[0].c < 2:
            break
        a, b, c = top[0].a, top[0].b, int(top[0].c)
        merges.append((a, b, c))
        vocab = vocab.select("wc", _apply_merge(F.col("syms"), a, b).alias("syms"))
        vocab = stage(vocab, lazy=True)
    return merges


def bpe_encode_docs(
    df: DataFrame,
    merges: list[tuple[str, str]] | list[tuple[str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize documents with a learned merge list (the apply half).

    Scale shape: the corpus is never encoded row-by-row.  The DISTINCT
    word vocabulary is encoded once (chained ``_apply_merge`` folds in
    learned order — vocab-sized rows, so the interpreted-HOF cost rule
    is respected), then broadcast-joined back onto the positional token
    stream and re-assembled per document in order (array_sort on the
    (pos, syms) structs — struct ordering compares the leading field).
    One explode + one broadcast join + one groupBy shuffle on the id.

    Returns ``(id_col, subtokens array<string>, n_subtokens)``.
    """
    words = df.select(
        F.col(id_col),
        F.posexplode(_tokens(F.col(text_col))).alias("pos", "word"),
    )
    enc = words.select("word").distinct()
    syms = F.split(F.col("word"), "")
    for rule in merges:
        syms = _apply_merge(syms, rule[0], rule[1])
    enc = enc.select("word", syms.alias("syms"))
    joined = words.join(F.broadcast(enc), on="word")
    return (
        joined.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("subtokens")
        )
        .select(
            id_col,
            "subtokens",
            F.size("subtokens").cast("long").alias("n_subtokens"),
        )
    )


def bpe_encode_reference(text_tokens: list[str], merges) -> list[str]:
    """Plain-Python reference encode (for tests): identical semantics."""
    out: list[str] = []
    for word in text_tokens:
        syms = list(word)
        for rule in merges:
            a, b = rule[0], rule[1]
            folded: list[str] = []
            for x in syms:
                if folded and folded[-1] == a and x == b:
                    folded[-1] = a + b
                else:
                    folded.append(x)
            syms = folded
        out.extend(syms)
    return out


def bpe_reference(word_counts: dict[str, int], n_merges: int):
    """Plain-Python reference BPE (for tests): identical semantics."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + c
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        merges.append((a, b, c))
        new = {}
        for syms, cnt in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new[tuple(out)] = new.get(tuple(out), 0) + cnt
        vocab = new
    return merges
