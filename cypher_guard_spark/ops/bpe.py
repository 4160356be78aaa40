"""Distributed BPE tokenizer training + encoding.

The real tokenizer-training step every LLM data pipeline runs once per
corpus (Sennrich et al. 2016; the GPT-2 byte-level variant drops the
end-of-word marker, as we do — symbols start as characters and merges
concatenate them).

Scale posture — the critical property is that the corpus is scanned
EXACTLY ONCE:

* ``word_table`` aggregates the corpus to a (word, n) frequency table in
  one partial-aggregating shuffle. Everything after runs over that table,
  which is VOCABULARY-sized (~10^6-10^7 distinct words for a 100-TB web
  corpus), not corpus-sized.
* each of the ``num_merges`` training iterations is two small jobs over
  the word table: one partial-agg pair count (adjacent symbol pairs
  weighted by word frequency — the shuffle key space is the pair
  vocabulary) plus a driver top-1 under the total order
  (count DESC, left ASC, right ASC), then a map-only left-to-right fold
  rewriting each word's symbol array with the chosen pair baked into the
  plan as literals. Lineage is truncated per iteration with a lazy
  localCheckpoint (30 nested higher-order-function lambdas would
  otherwise stack in one codegen unit), exactly like the CC/PageRank
  kernels in pipeline/graph_algo.py.
* the merge list itself is inherently driver-resident (each merge is a
  sequential greedy decision) and tiny — num_merges rows — which is why
  every real BPE trainer, distributed or not, has this loop shape.

Determinism: counts are exact integers and the tie-break is total, so
the learned merge sequence is a pure function of the corpus in any
engine / partitioning — the pure-Python oracle twin reproduces it
bit-for-bit.

``bpe_encode`` is the one deliberately-Python operator in this module:
applying ranked merges to a word is inherently sequential (a priority
loop over adjacent pairs), so it runs as an Arrow-batched pandas UDF
with a per-batch distinct-word memo (web text repeats words heavily, so
each batch encodes its vocabulary, not its token stream). A production
deployment would swap a JVM/native tokenizer at this exact seam; the
Spark-side plumbing (pruned scan, map-only plan, broadcast-sized merge
ranks) is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import py_tokens, tokens

__all__ = ["word_table", "train_bpe", "py_train_bpe", "bpe_encode", "bpe_word"]


def word_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) distinct-word frequency table — the single corpus scan
    behind BPE training. One explode + one partial-aggregating shuffle on
    the word key; duplicates collapse map-side so the exchange carries
    roughly the per-partition vocabulary, not the token stream."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(l, r, cnt) adjacent-symbol pair frequencies over the word table,
    weighted by word count. size<2 guard keeps sequence(1, 0) (which
    counts DOWN in Spark) out of the transform."""
    pairs = (
        words.where(F.size("syms") >= 2)
        .select(
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(syms[i - 1] AS l, syms[i] AS r))"
                )
            ).alias("p"),
        )
        .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "n")
    )
    return pairs.groupBy("l", "r").agg(F.sum("n").alias("cnt"))


def _merge_pair(syms, left: str, right: str):
    """Left-to-right non-overlapping replacement of adjacent (left, right)
    with their concatenation — the standard BPE merge pass, as a sequential
    array fold (state = rebuilt symbol list; a merged element can itself be
    the `left` of the next position, which the fold's last-element check
    handles exactly like the serial algorithm)."""
    joined = left + right
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(joined))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _serial_merges(
    word_counts: dict[str, int], num_merges: int, min_pair_count: int
) -> list[tuple[int, str, str, int]]:
    """Driver-side merge loop over a collected (word, n) table — the shape
    every production BPE trainer uses once the vocabulary fits in memory
    (HuggingFace/SentencePiece train exactly this way). Pair counts are
    maintained INCREMENTALLY: a merge touches only the words that contain
    its pair (tracked via a pair->words index), so cost per merge is
    O(affected words), not O(vocabulary)."""
    from collections import Counter, defaultdict

    vocab = {w: list(w) for w in word_counts}
    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple[str, str], set[str]] = defaultdict(set)

    def _index(w: str) -> None:
        syms, n = vocab[w], word_counts[w]
        for p in zip(syms, syms[1:]):
            pair_counts[p] += n
            pair_words[p].add(w)

    def _unindex(w: str) -> None:
        syms, n = vocab[w], word_counts[w]
        for p in zip(syms, syms[1:]):
            pair_counts[p] -= n
            if pair_counts[p] == 0:
                del pair_counts[p]
            pair_words[p].discard(w)

    for w in vocab:
        _index(w)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        if not pair_counts:
            break
        (left, right), cnt = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if cnt < min_pair_count:
            break
        merges.append((rank, left, right, cnt))
        for w in list(pair_words[(left, right)]):
            _unindex(w)
            syms, out = vocab[w], []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            vocab[w] = out
            _index(w)
    return merges


def train_bpe(
    df: DataFrame,
    num_merges: int = 30,
    text_col: str = "text",
    min_pair_count: int = 2,
    driver_max_vocab: int = 2_000_000,
) -> DataFrame:
    """(merge_rank, left, right, pair_count) — the learned merge sequence,
    rank 0 first. Stops early when the best remaining pair's frequency
    drops below `min_pair_count` (or no pair remains).

    Two execution paths, SAME result (equality-locked by
    tests/test_bpe.py::test_train_bpe_driver_vs_distributed):

    * vocabulary <= `driver_max_vocab` (the common case — web-corpus word
      vocabularies are ~10^6-10^7 however large the corpus): collect the
      (word, n) table and run the incremental driver-side loop
      (`_serial_merges`) — one corpus-scan job total; the merge loop is a
      greedy SEQUENTIAL decision chain, so once the table fits driver-side
      this is strictly less cluster work than `num_merges` rounds of jobs.
    * larger vocabularies: the distributed loop (two vocabulary-sized jobs
      per merge — partial-agg pair count + driver top-1, then a map-only
      literal-baked fold rewrite; lineage truncated per round). Force with
      ``driver_max_vocab=0``.

    Either way the corpus itself is read exactly once."""
    spark = df.sparkSession
    wt = word_table(df, text_col)
    if driver_max_vocab > 0:
        probe = wt.limit(driver_max_vocab + 1).collect()
        if len(probe) <= driver_max_vocab:
            merges = _serial_merges(
                {r["word"]: r["n"] for r in probe}, num_merges, min_pair_count
            )
            return spark.createDataFrame(
                merges,
                "merge_rank int, left string, right string, pair_count long",
            )
        # probe overflowed: vocabulary too large to collect — fall through
        # to the distributed loop (wt unchanged)
    words = wt.select(
        F.split("word", "").alias("syms"), "n"
    ).localCheckpoint(eager=False)
    merges = []
    for rank in range(num_merges):
        best = (
            _pair_counts(words)
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_pair_count:
            break
        left, right, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        merges.append((rank, left, right, cnt))
        words = words.select(
            _merge_pair(F.col("syms"), left, right).alias("syms"), "n"
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count long"
    )


def py_train_bpe(
    texts, num_merges: int, min_pair_count: int = 2
) -> list[tuple[int, str, str, int]]:
    """Independent serial BPE trainer over raw `texts`: a Counter over the
    `py_tokens` word table and a full pair recount per merge, sharing no
    code with `train_bpe`'s fold/groupBy loop or its incremental
    `_serial_merges`. Tie order mirrors the engine's total order (count
    DESC, left ASC, right ASC); [(merge_rank, left, right, pair_count)]."""
    from collections import Counter

    words: Counter = Counter()
    for text in texts:
        for w in py_tokens(text):
            words[w] += 1
    vocab = {w: list(w) for w in words}
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            for p in zip(syms, syms[1:]):
                pairs[p] += words[w]
        if not pairs:
            break
        (left, right), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_count:
            break
        merges.append((rank, left, right, cnt))
        for w, syms in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            vocab[w] = out
    return merges


def bpe_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Serial BPE encoding of one word: repeatedly merge the LOWEST-RANK
    adjacent pair present (all its non-overlapping occurrences, left to
    right) until no ranked pair remains — the GPT-2 encode loop. Pure
    Python; shared by the pandas-UDF kernel and the oracle twin so the
    distributed plumbing is verified against the serial ground truth."""
    syms = list(word)
    while len(syms) >= 2:
        best_rank, best_pair = None, None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        left, right = best_pair
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        syms = out
    return syms


def bpe_encode(
    df: DataFrame,
    merges: DataFrame | list[tuple[str, str]],
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_words, n_subwords, subwords) — encode each document with
    a trained merge sequence. `merges` is the `train_bpe` output (or a
    rank-ordered [(left, right), ...] list); tokenizer models are tiny and
    driver/broadcast-resident by nature, so collecting the merge table is
    the intended deployment shape.

    Plan: one pruned (key, text) scan -> single Arrow-batched pandas UDF
    (map-only, no exchange); per batch the kernel encodes each DISTINCT
    word once and reuses the memo across the token stream."""
    if isinstance(merges, DataFrame):
        pairs = [
            (r["left"], r["right"])
            for r in merges.orderBy("merge_rank").collect()
        ]
    else:
        pairs = list(merges)
    ranks = {p: i for i, p in enumerate(pairs)}

    def _enc_batch(texts):
        memo: dict[str, list[str]] = {}

        def encode(text: str) -> list[str]:
            out: list[str] = []
            for w in py_tokens(text or ""):
                got = memo.get(w)
                if got is None:
                    got = memo[w] = bpe_word(w, ranks)
                out.extend(got)
            return out

        return texts.map(encode)

    enc = F.pandas_udf(_enc_batch, "array<string>")

    subs = F.col("subwords")
    return df.select(
        key_col,
        F.size(tokens(F.col(text_col))).alias("n_words"),
        enc(F.col(text_col)).alias("subwords"),
    ).select(
        key_col,
        "n_words",
        F.size(subs).alias("n_subwords"),
        "subwords",
    )
