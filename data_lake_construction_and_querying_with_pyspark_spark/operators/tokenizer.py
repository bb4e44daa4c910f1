"""Distributed BPE tokenizer training (SURVEY.md §6 north-star: the
LLM-data-pipeline surface; no reference counterpart — the reference's
query layer stops at SQL pass-through, reference
``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:113``).

Byte-pair-encoding merge learning is how every modern tokenizer
(GPT-2/SentencePiece/HF ``tokenizers``) is trained: iteratively count
adjacent symbol pairs, merge the most frequent pair everywhere, repeat.
The classic scaling trick — used by every real trainer — is that after
one pass over the corpus the algorithm never touches the corpus again:
it operates on the **distinct-word frequency table**, whose size is the
vocabulary (Zipf-bounded, millions of rows for a trillion-token
corpus), not the corpus. That is exactly the shape here:

* ONE corpus-sized shuffle: ``explode(split(text)) → groupBy(word)``
  with map-side partial aggregation (the only stage whose cost scales
  with corpus bytes; at 100 TB it is a single count-shuffle of skinny
  rows, and AQE coalesces the vocabulary-sized output).
* ``k`` merge iterations, each over the vocabulary table only: pair
  extraction is a JVM-codegen'd projection (``split`` → ``slice`` →
  ``arrays_zip`` → ``explode``), the pair-count argmax is a
  vocabulary-sized partial agg collapsing to ONE row, and applying the
  merge is a literal ``replace`` projection. Driver materializes the
  single argmax row per iteration — the same canonical shape as
  Lloyd's centroid materialization in ``semantic.py``.

Symbol sequences are kept as marker-wrapped strings (``the`` →
``<t><h><e>``): merging pair (a,b) is then the literal string replace
``<a><b>`` → ``<ab>``, unambiguous at symbol boundaries (symbols are
``[a-z]+`` so ``<``/``>`` never occur inside one) and correct on
overlapping runs — both Spark's ``replace`` and DuckDB's ``replace``
substitute leftmost non-overlapping occurrences, which IS classic BPE's
left-to-right merge order (``aaaa`` + merge (a,a) → ``(aa)(aa)``;
verified identical cross-engine, see tests/test_tokenizer.py).

Determinism: pair counts are exact integer sums; the argmax tiebreak is
(count DESC, left ASC, right ASC) — total order, so Spark and the
DuckDB oracle pick identical merges at every step. The oracle replays
the full iteration chain (word-freq → wrap → k × (pairs → argmax →
replace)) as chained CTEs.

This is a from-scratch implementation of the public BPE algorithm
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units"); no reference-repo code involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_lake_construction_and_querying_with_pyspark_spark.operators.tokens import (
    TOKENS_SQL,
    tokens,
)
from data_lake_construction_and_querying_with_pyspark_spark.registry import register
from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import (
    fan_out_small_scan,
    load_table,
)

N_MERGES = 6

_MERGES_SCHEMA = StructType(
    [
        StructField("step", IntegerType(), False),
        StructField("lft", StringType(), False),
        StructField("rgt", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("pair_count", LongType(), False),
    ]
)


def _word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-word frequency table with marker-wrapped char sequences —
    the one corpus-sized stage; everything after runs at vocabulary size."""
    # r11: fan the doc scan out so word explode + partial agg run on
    # every core (guarded no-op at lake scale): fan_out_small_scan.
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    words = (
        docs.select(F.explode(tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    return words.select(
        "freq", F.regexp_replace("word", "(.)", "<$1>").alias("seq")
    )


def _syms() -> F.Column:
    return F.split(F.expr("trim(BOTH '<>' FROM seq)"), "><")


def _pair_counts(cur: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word frequency — pure JVM
    projection + one vocabulary-sized partial agg."""
    s = _syms()
    pairs = cur.select(
        "freq",
        F.explode(
            F.arrays_zip(
                F.slice(s, 1, F.size(s) - 1).alias("lft"),
                F.slice(s, 2, F.size(s) - 1).alias("rgt"),
            )
        ).alias("p"),
    ).select("freq", F.col("p.lft").alias("lft"), F.col("p.rgt").alias("rgt"))
    return pairs.groupBy("lft", "rgt").agg(F.sum("freq").alias("cnt"))


def _learn(spark: SparkSession, sf_dir: str, k: int) -> tuple[list[Row], DataFrame]:
    """Run k BPE merge iterations over the corpus at ``sf_dir``."""
    return learn_merges(_word_freq(spark, sf_dir), k)


def learn_merges(words: DataFrame, k: int) -> tuple[list[Row], DataFrame]:
    """k BPE merge iterations over a ``(freq, seq)`` word table; returns
    (merge rules, final word table).

    Each iteration materializes exactly ONE row (the argmax pair) to the
    driver — the same deliberate driver-bounded shape as the k×dim
    centroid collect between Lloyd's iterations (semantic.py): the next
    iteration's plan is built from the literal, keeping every
    vocabulary-sized stage distributed and fully deterministic."""
    base = words.persist()
    cur = base
    merges: list[Row] = []
    for step in range(1, k + 1):
        best = (
            _pair_counts(cur)
            .orderBy(F.desc("cnt"), "lft", "rgt")
            .limit(1)
            .collect()
        )
        if not best:  # no adjacent pairs left anywhere (degenerate corpus)
            break
        b = best[0]
        merges.append(
            Row(
                step=step,
                lft=b["lft"],
                rgt=b["rgt"],
                merged=b["lft"] + b["rgt"],
                pair_count=int(b["cnt"]),
            )
        )
        cur = cur.withColumn(
            "seq",
            F.replace(
                "seq",
                F.lit(f"<{b['lft']}><{b['rgt']}>"),
                F.lit(f"<{b['lft']}{b['rgt']}>"),
            ),
        )
    base.unpersist()  # derived `cur` plans have already consumed the cache
    return merges, cur


def _oracle_ctes(k: int) -> str:
    """Chained-CTE replay of the full training loop: w0 is the wrapped
    word-frequency table; each step i has p{i} (pair counts over
    w{i-1}), b{i} (deterministic argmax), w{i} (merge applied via the
    identical literal replace). MATERIALIZED pins each w CTE so DuckDB
    evaluates the chain once (the CTE re-expansion pathology documented
    for the semantic oracle)."""
    parts = [
        f"""w0 AS MATERIALIZED (
  SELECT freq, regexp_replace(word, '(.)', '<\\1>', 'g') AS seq
  FROM (SELECT w AS word, COUNT(*) AS freq
        FROM (SELECT unnest({TOKENS_SQL}) AS w FROM documents)
        GROUP BY w))"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""p{i} AS (
  SELECT lft, rgt, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT syms[i] AS lft, syms[i + 1] AS rgt, freq
        FROM (SELECT string_split(trim(seq, '<>'), '><') AS syms, freq FROM w{i - 1}),
             unnest(range(1, len(syms))) AS u(i))
  GROUP BY lft, rgt)"""
        )
        parts.append(
            f"b{i} AS (SELECT lft, rgt, cnt FROM p{i} ORDER BY cnt DESC, lft, rgt LIMIT 1)"
        )
        parts.append(
            f"""w{i} AS MATERIALIZED (
  SELECT freq,
         replace(seq, '<' || lft || '><' || rgt || '>', '<' || lft || rgt || '>') AS seq
  FROM w{i - 1}, b{i})"""
        )
    return "WITH " + ",\n".join(parts)


def _merges_oracle(k: int) -> str:
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS step, lft, rgt, lft || rgt AS merged, cnt AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    )
    return f"{_oracle_ctes(k)}\nSELECT * FROM ({rows})"


def _token_counts_oracle(k: int) -> str:
    return f"""{_oracle_ctes(k)}
SELECT sym AS token,
       CAST(length(sym) AS INT) AS token_len,
       CAST(SUM(freq) AS BIGINT) AS n_occurrences
FROM (SELECT unnest(string_split(trim(seq, '<>'), '><')) AS sym, freq FROM w{k})
GROUP BY sym"""


def _encode_oracle(k: int) -> str:
    """Doc-level encode replay: d0 wraps every non-space char of every
    document; d{i} applies merge b{i} with the identical literal
    replace (spaces break the ``><`` adjacency, so merges can never
    cross a word boundary). Token count = count of ``>`` chars — every
    symbol contributes exactly one. Words are counted on ``text``, carried
    through d0..dk: the wrapping and the merges leave every space where it
    is, so ``seq`` splits into the same number of words."""
    parts = [_oracle_ctes(k)]
    parts.append(
        ",\nd0 AS MATERIALIZED (SELECT doc_id, n_chars, text, "
        "regexp_replace(text, '([^ ])', '<\\1>', 'g') AS seq FROM documents)"
    )
    for i in range(1, k + 1):
        parts.append(
            f""",
d{i} AS MATERIALIZED (
  SELECT doc_id, n_chars, text,
         replace(seq, '<' || lft || '><' || rgt || '>', '<' || lft || rgt || '>') AS seq
  FROM d{i - 1}, b{i})"""
        )
    parts.append(
        f"""
SELECT doc_id,
       CAST(length(seq) - length(replace(seq, '>', '')) AS INT) AS n_bpe_tokens,
       CAST(len({TOKENS_SQL}) AS INT) AS n_words,
       CAST(n_chars - CAST(len({TOKENS_SQL}) AS INT) + 1 AS DOUBLE)
           / (length(seq) - length(replace(seq, '>', ''))) AS chars_per_token
FROM d{k}"""
    )
    return "".join(parts)


@register("bpe_encode_documents", oracle=_encode_oracle(N_MERGES))
def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-side half of the tokenizer family: encode every document
    with the learned BPE merges and report per-doc subword token count,
    word count, and mean letters-per-token (the compression a training
    pipeline budgets context length by; feeds ``sequence_packing``).

    The k merge rules come from the SAME driver-bounded learning loop;
    encoding itself is k chained literal-``replace`` projections over
    the corpus — JVM codegen, zero shuffles, embarrassingly parallel —
    the inherently corpus-sized pass this operator exists to do.
    ``chars_per_token`` is letters/token: n_chars counts single spaces
    between words, so letters = n_chars - (n_words - 1); one exact
    int/int double division, deterministic cross-engine."""
    merges, _ = _learn(spark, sf_dir, N_MERGES)
    docs = load_table(spark, sf_dir, "documents")
    seq = F.regexp_replace("text", "([^ ])", "<$1>")
    for m in merges:
        seq = F.replace(
            seq, F.lit(f"<{m['lft']}><{m['rgt']}>"), F.lit(f"<{m['merged']}>")
        )
    n_tok = F.length(seq) - F.length(F.replace(seq, F.lit(">"), F.lit("")))
    n_words = F.size(tokens())
    return docs.select(
        "doc_id",
        n_tok.alias("n_bpe_tokens"),
        n_words.alias("n_words"),
        ((F.col("n_chars") - n_words + F.lit(1)).cast("double") / n_tok).alias(
            "chars_per_token"
        ),
    )


@register("bpe_learn_merges", oracle=_merges_oracle(N_MERGES))
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First N_MERGES BPE merge rules learned from the document corpus:
    (step, left symbol, right symbol, merged symbol, weighted pair
    count). The k-row result is intrinsically driver-sized; all
    counting stages are distributed (see module docstring for the
    100 TB shape)."""
    merges, _ = _learn(spark, sf_dir, N_MERGES)
    return spark.createDataFrame(merges, _MERGES_SCHEMA)


@register("bpe_token_counts", oracle=_token_counts_oracle(N_MERGES))
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency table AFTER applying the learned BPE
    merges — the subword vocabulary a tokenizer built from these rules
    would actually emit, with per-token corpus occurrence counts.
    Distributed end-to-end: the final explode + count runs over the
    vocabulary-sized word table with exact integer sums."""
    _, cur = _learn(spark, sf_dir, N_MERGES)
    out = (
        cur.select("freq", F.explode(_syms()).alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("n_occurrences"))
        .select("token", F.length("token").alias("token_len"), "n_occurrences")
    )
    return out
