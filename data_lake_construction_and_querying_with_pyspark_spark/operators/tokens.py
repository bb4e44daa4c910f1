"""The text operators' shared word-level definitions, each written once
per engine: the Spark ``Column``/``DataFrame`` builder and its DuckDB SQL
twin that the oracles splice in.

* **Tokens** — a document's words are its single-space split with empty
  tokens removed, so leading, trailing or doubled separators never mint
  a ``''`` token.
* **Fingerprint** — md5 of the lowercased, whitespace-collapsed,
  trimmed text: the canonical content digest that exact-dedup variants
  (batch, incremental, the corpus-prep pipeline) key on.
* **Word n-grams**, in two physical forms kept on purpose:

  - :func:`ngrams` — one ``array<string>`` of the document's k-grams,
    for per-document set work (shingle sets, repetition fractions);
  - :func:`ngram_positions` + :func:`gram` — one row per k-gram start
    position, for posting-list work keyed by the gram (span dedup, LM
    count tables, hashed DSIR features).

  Each form is the faster one on its own shape (4-vCPU machine,
  ``local[4]``, sf0.1, medians of 5 alternating runs, identical rows):
  positional 2-gram rows took 0.35 s as explode+slice vs 0.59 s as
  ``posexplode(arrays_zip)``, and 5-gram rows 0.40–0.42 s vs
  0.63–0.78 s; distinct 3-gram arrays took 1.36 s as ``arrays_zip`` vs
  4.89 s as ``transform(sequence, slice)``.

Both engines index k-grams from 1 and produce none for documents with
fewer than k tokens. This module registers no query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKENS_SQL = "list_filter(string_split(text, ' '), t -> t <> '')"

FINGERPRINT_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


def tokens() -> Column:
    """Word tokens of ``text`` (twin: ``TOKENS_SQL``)."""
    return F.filter(F.split("text", " "), lambda t: t != "")


def fingerprint() -> Column:
    """Canonical content md5 of ``text`` (twin: ``FINGERPRINT_SQL``)."""
    return F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))


def ngrams(toks: Column, k: int) -> Column:
    """The ``k``-grams of a token array, in order and with repeats;
    empty when it has fewer than ``k`` tokens (twin: :func:`ngrams_sql`).

    Built over ``arrays_zip`` of k shifted slices rather than
    ``element_at(toks, i)`` inside a lambda: lambda-indexed access
    defeats subexpression elimination, so when an optimizer rule
    re-inlines the tokenizer into this expression (CollapseProject,
    InferFiltersFromGenerate) the indexed form re-tokenizes per element
    — O(tokens²) per doc, measured 20× slower. Each slice argument here
    is evaluated once per row regardless of inlining. The guard matters
    too: a negative slice length raises instead of coming back empty."""
    n = F.size(toks)
    z = F.arrays_zip(*[F.slice(toks, j + 1, n - (k - 1)) for j in range(k)])
    grams = F.transform(z, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]))
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def ngrams_sql(k: int) -> str:
    """DuckDB twin of :func:`ngrams` over a ``toks`` list column."""
    return f"[array_to_string(toks[i:i+{k - 1}], ' ') FOR i IN range(1, len(toks) - {k} + 2)]"


def ngram_positions(df: DataFrame, k: int) -> DataFrame:
    """One row per ``k``-gram start ``p`` (1-based) of ``df``'s ``toks``
    column: ``df``'s other columns, then ``p``, then ``toks``, so the
    caller projects :func:`gram` at ``p`` or any offset of it. Documents
    with fewer than ``k`` tokens yield no rows; ``sequence(1, n-k+1)``
    alone would count down instead (twin: :func:`ngram_positions_sql`)."""
    n = F.size("toks")
    starts = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    keep = [c for c in df.columns if c != "toks"]
    return df.select(*keep, F.explode(starts).alias("p"), "toks")


def gram(start: Column, k: int) -> Column:
    """The ``k``-gram of ``toks`` starting at ``start`` (twin: :func:`gram_sql`)."""
    return F.concat_ws(" ", F.slice("toks", start, k))


def ngram_positions_sql(k: int) -> str:
    """DuckDB twin of :func:`ngram_positions`: the lateral join that,
    after ``FROM <relation with toks>,``, yields one row per start ``p``."""
    return f"LATERAL unnest(generate_series(1, len(toks) - {k - 1})) AS t(p)"


def gram_sql(start: str, k: int) -> str:
    """DuckDB twin of :func:`gram`."""
    return f"array_to_string(toks[{start}:{start}+{k - 1}], ' ')"
