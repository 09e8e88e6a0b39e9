"""Distributed BPE tokenizer TRAINING over the corpus.

The missing half of the tokenizer story (``functions/bpe.py`` encodes
with a fixed vocab; this module learns one): classic Sennrich et al.
2016 byte-pair-encoding training, structured the way every production
trainer (tiktoken's, HF's) actually runs at scale — the corpus is
reduced ONCE to a (word, frequency) table (distinct words ≪ tokens; one
map-side-combinable shuffle), and the merge loop runs over that bounded
table, never touching the corpus again. Per-merge cost is proportional
to the vocabulary, not the corpus, so training cost is independent of
whether the corpus is 60 k rows or 100 TB once the frequency table
exists.

Oracle story: the frequency-weighted adjacent-pair counts that drive
merge choice are plain SQL (``bpe_pair_counts`` is hash-green under the
DuckDB oracle); the iterative merge loop itself is not SQL-expressible,
so ``bpe_merges`` registers rows-only and is instead pinned by exact
unit fixtures (tests/test_bpetrain.py) and an end-to-end property: the
trained tokenizer never produces MORE tokens than character-level
splitting, and round-trips text losslessly.

Extends the reference's fixed-vocab tokenizer adapters
(`wurzel/utils/tokenizers.py:52-127` — load-and-encode only; the
reference never trains) with the training step a pipeline that OWNS its
tokenizer needs.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wurzel_spark.functions import text as TXT
from wurzel_spark.functions.bpe import BPETokenizer
from wurzel_spark.tables import table

# Size guard for the driver-side merge loop — same reasoning as the
# union-find guard in dedup.py: a frequency table this small trains in
# (milli)seconds on the driver; above it, cap to the top-N words by
# frequency (the dropped tail is the sub-ppm mass that cannot win a
# merge anyway — documented approximation, deterministic tie-break).
MAX_TRAIN_VOCAB = 500_000


def word_frequency(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — ONE explode + hash aggregate with
    map-side combine; the only corpus-sized stage of BPE training."""
    return (
        df.select(F.explode(TXT.words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """Frequency-weighted adjacent character-pair counts — the statistic
    the FIRST BPE merge maximizes, computed corpus-wide.

    Shape: word-frequency table first (corpus never re-scanned), then
    per DISTINCT word an array of its adjacent char pairs (JVM
    ``transform``+``substring`` — no Python), exploded and summed with
    the word's frequency as weight. Top-``top_k`` by (count desc, pair
    asc) — the deterministic merge-choice order.
    """
    wf = word_frequency(df, text_col)
    # dynamic-start substring needs the expr form; stays in codegen
    pairs = F.when(
        F.length("word") > 1,
        F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))"),
    ).otherwise(F.array().cast("array<string>"))
    counted = (
        wf.select("freq", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(top_k)
    )
    return counted.select("pair", "n")


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_pair_counts(table(spark, sf_dir, "documents"))


BPE_PAIR_COUNTS_SQL = rf"""
WITH wf AS (
  SELECT w AS word, COUNT(*) AS freq FROM (
    SELECT unnest({TXT.words_sql()}) AS w
    FROM documents
  ) GROUP BY w
), pairs AS (
  SELECT substr(word, i, 2) AS pair, freq
  FROM wf, UNNEST(range(1, GREATEST(length(word), 1))) AS t(i)
  WHERE length(word) > 1
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC LIMIT 50
"""


def train_bpe_merges(
    word_freq: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str, int]]:
    """Pure-Python BPE merge learning over a (word, freq) table —
    Sennrich et al. 2016 Algorithm 1, deterministic: best pair is max by
    (count, then lexicographically smallest), greedy left-to-right merge
    application. Returns [(left, right, count_at_merge_time), ...] in
    merge order.

    Relationship to ``functions.bpe.train_bpe``: that trainer is
    byte-level over raw TEXTS (the tiktoken-format fixture builder);
    this one is character-level over the WEIGHTED word-frequency table a
    distributed reduction produces — frequencies enter the count, which
    a texts-based trainer cannot express without replicating documents.
    ``tokenizer_from_merges`` bridges the two (char merges → byte ranks).
    """
    vocab: dict[tuple[str, ...], int] = {}
    for w, f in word_freq:
        syms = tuple(w)
        vocab[syms] = vocab.get(syms, 0) + f
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        counts: Counter = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        # deterministic: highest count, ties to lexicographically smallest
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, n))
        merged = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 100,
    max_vocab: int = MAX_TRAIN_VOCAB,
) -> list[tuple[str, str, int]]:
    """Distributed word counts → size-guarded driver merge loop.

    The collect is bounded by ``max_vocab`` (top words by freq desc, word
    asc): past that point the dropped words are the sub-ppm frequency
    tail whose pairs cannot influence early merges. The corpus itself is
    scanned exactly once.
    """
    wf = (
        word_frequency(df, text_col)
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(max_vocab)
    )
    rows = [(r["word"], r["freq"]) for r in wf.collect()]
    return train_bpe_merges(rows, num_merges)


def tokenizer_from_merges(merges: list[tuple[str, str, int]]) -> BPETokenizer:
    """Build a ``functions.bpe.BPETokenizer`` from learned merges: byte
    ranks 0..255 for the base alphabet, then one rank per merge in learn
    order — exactly the rank structure tiktoken files carry, so the
    trained tokenizer plugs into every consumer of ``from_name``.

    The merges are CHARACTER-level but the tokenizer merges BYTES, so
    every multi-byte character appearing in a merge gets its own vocab
    entry first — without it the byte-pair path can never assemble 'ü'
    on the way to 'fü', and non-ASCII text silently falls back to raw
    bytes (only whole-word vocab hits would compress)."""
    ranks: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt = 256
    for a, b, _ in merges:
        for ch in a + b:
            chb = ch.encode("utf-8")
            if len(chb) > 1 and chb not in ranks:
                ranks[chb] = nxt
                nxt += 1
        tok = (a + b).encode("utf-8")
        if tok not in ranks:
            ranks[tok] = nxt
            nxt += 1
    return BPETokenizer(ranks, name="bpe-trained")


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned merge table as a query (rows-only: the loop isn't SQL).
    Deterministic: counts are exact integers, ties break lexicographic."""
    merges = train_bpe(table(spark, sf_dir, "documents"), num_merges=50)
    return spark.createDataFrame(
        [(i, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "merge_rank long, left string, right string, pair_count long",
    )
