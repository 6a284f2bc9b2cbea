"""Mention detection over interleaved document spans.

The graft analog of the reference's gene matching
(cello/cello.py:925-1004: probe input identifiers against training
gene dictionaries, synonym fan-out via a mapping table): here we probe
document text spans against the ontology alias dictionary
(names + synonyms, ontology_graph.py:370-379/:525-541).

Scale design (100 TB documents, KB-size dictionary):
- `explode(spans)` keeps only text spans; documents themselves are
  never mutated → the per-row span-sequence invariant is preserved by
  construction (mentions are a *separate* table keyed by doc_id).
- The token window is pure JVM and lambda-free (posexplode over
  arrays_zip of shifted slices, one whole-stage codegen span) — no
  Python and no interpreted higher-order functions in the hot path
  (the HOF form anti-scales; see `_token_window`).
- Matching is ONE broadcast hash join per token position, keyed on the
  alias's first token; the alias's remaining tokens are compared in
  the join condition. The document side never shuffles, and no n-gram
  string is built for any position, hit or miss.
- The only shuffle in this stage is the optional per-term aggregate,
  which uses two-level salting because hub terms (the root 'cell'
  alias) receive a large share of all mentions (SURVEY §2.3 skew note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cello_spark.functions.text import mention_tokens as _mention_tokens

MAX_ALIAS_TOKENS = 6


def text_spans(documents: DataFrame) -> DataFrame:
    """(doc_id, span_idx, offset, text) for kind='text' spans."""
    return (
        documents.select(
            "doc_id", F.posexplode("spans").alias("span_idx", "span")
        )
        .filter(F.col("span.kind") == "text")
        .select(
            "doc_id",
            "span_idx",
            F.col("span.offset").alias("offset"),
            F.col("span.text").alias("text"),
        )
    )


def _token_window(spans: DataFrame, max_n: int) -> DataFrame:
    """One row per token position of each text span, tokenized with
    `mention_tokens` (punctuation folded): (doc_id, span_idx, offset,
    n_toks, pos, t0..t{max_n-1}) where t0 is the token at `pos` and
    t1.. the next max_n-1 tokens, null past the span's end.

    Shape note (measured, BENCH/BASELINE.md): nested higher-order
    functions evaluate INTERPRETED per element and anti-scale on a
    shared heap, and retaining the whole `tokens` array through an
    explode makes Tungsten Generate copy O(span_len) bytes into EVERY
    output row — quadratic in span length. posexplode over arrays_zip
    of shifted slices ships only each position's O(max_n) window — one
    WholeStageCodegen span, no lambda, no quadratic copy."""
    toks = spans.select(
        "doc_id",
        "span_idx",
        "offset",
        _mention_tokens("text").alias("tokens"),
    )
    zip_expr = "arrays_zip(tokens" + "".join(
        f", slice(tokens, {k + 1}, size(tokens))" for k in range(1, max_n)
    ) + ")"
    return toks.select(
        "doc_id",
        "span_idx",
        "offset",
        F.size("tokens").alias("n_toks"),
        F.posexplode(F.expr(zip_expr)).alias("pos", "w"),
    ).select(
        "doc_id",
        "span_idx",
        "offset",
        "n_toks",
        "pos",
        F.col("w")["tokens"].alias("t0"),
        *[F.col("w")[str(k)].alias(f"t{k}") for k in range(1, max_n)],
    )


def candidate_ngrams(spans: DataFrame, max_n: int = MAX_ALIAS_TOKENS) -> DataFrame:
    """All 1..max_n token n-grams of each text span, normalized with
    the mention tokenizer (punctuation folded). Output
    (doc_id, span_idx, offset, ngram). Built on the same token window
    as `detect_mentions`; the n-gram is a top-level concat_ws."""
    window_cols = [f"t{k}" for k in range(max_n)]
    ngram_case = "CASE n " + " ".join(
        f"WHEN {k} THEN "
        + ("t0" if k == 1 else f"concat_ws(' ', {', '.join(window_cols[:k])})")
        for k in range(1, max_n + 1)
    ) + " END"
    return _token_window(spans, max_n).select(
        "doc_id",
        "span_idx",
        "offset",
        *window_cols,
        F.explode(
            F.expr(f"sequence(1, least({max_n}, n_toks - pos))")
        ).alias("n"),
    ).select(
        "doc_id",
        "span_idx",
        "offset",
        F.expr(ngram_case).alias("ngram"),
    )


def detect_mentions(
    documents: DataFrame,
    alias_dict: DataFrame,  # (alias_norm, term_id) — small, broadcast
    max_n: int | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Dictionary mention detection. Returns
    (doc_id, span_idx, offset, alias_norm, term_id), distinct per
    (doc span, term) unless `distinct=False`. Text is tokenized with
    `mention_tokens` (punctuation folded, matching the dictionary-side
    `normalize_alias`), so aliases adjacent to punctuation match.
    Aliases longer than `max_n` tokens (default: the longest alias)
    never match.

    One plan: every token position of the window probes a broadcast
    alias table (alias_norm, term_id, al, a0..a{max_n-1}) — al the
    alias's token count, a_k its k-th token — on t0 = a0, and the join
    condition checks the rest of the alias:

        al <= n_toks - pos AND (al <= k OR t_k = a_k)  for k >= 1

    The length bound also keeps every compared t_k non-null (nulls
    only pad past the span's end). Positions whose token starts no
    alias drop at the hash probe; no n-gram string is ever built.
    Finding `max_n` is the only dictionary job (one aggregate); the
    dictionary is never collected to the driver except by the
    broadcast itself.
    """
    parts = F.split("alias_norm", " ")
    if max_n is None:
        # an empty dictionary aggregates to null: a 1-token window
        # then runs the same plan and matches nothing, so the empty
        # result has exactly the populated result's schema
        max_n = alias_dict.agg(F.max(F.size(parts))).first()[0] or 1
    aliases = alias_dict.select(
        "alias_norm",
        "term_id",
        F.size(parts).alias("al"),
        # F.get (not the [] subscript): null past the alias's end
        # under ANSI mode
        *[F.get(parts, k).alias(f"a{k}") for k in range(max_n)],
    ).where(F.col("al") <= max_n)
    match = " AND ".join(
        ["t0 = a0", "al <= n_toks - pos"]
        + [f"(al <= {k} OR t{k} = a{k})" for k in range(1, max_n)]
    )
    out = (
        _token_window(text_spans(documents), max_n)
        .join(F.broadcast(aliases), F.expr(match))
        .select("doc_id", "span_idx", "offset", "alias_norm", "term_id")
    )
    if not distinct:
        # streaming callers and the KG pipeline skip the dedup — a
        # stateful dropDuplicates on an unbounded stream needs a
        # watermark, the pipeline's consumers are dedup-agnostic (see
        # plans/kg.stage_mentions), and overlapping alias hits per
        # (span, term) are harmless at-least-once
        return out
    # deterministic dedup: min() aggregates instead of dropDuplicates'
    # arbitrary-first — output is identical across partitionings and
    # parallelism levels (offset = the span's offset for every match,
    # so min is a no-op there; alias_norm = lexicographically first
    # alias that hit the term). Unreferenced aggregates prune: callers
    # that drop alias_norm never pay its exchange bytes.
    return (
        out.groupBy("doc_id", "span_idx", "term_id")
        .agg(
            F.min("offset").alias("offset"),
            F.min("alias_norm").alias("alias_norm"),
        )
        .select("doc_id", "span_idx", "offset", "alias_norm", "term_id")
    )


def mention_counts_salted(mentions: DataFrame, n_salts: int = 32) -> DataFrame:
    """Per-term mention counts with two-level (salted) aggregation.

    A single `groupBy(term_id)` would funnel every mention of a hub
    term (e.g. the root 'cell') through one reducer; salting on
    hash(doc_id) spreads the partial counts over `n_salts` reducers
    first. (Catalyst already does partial aggregation map-side; the
    explicit salt additionally splits the *reduce* side, which matters
    when a single key's partials exceed one task — the documented
    hub-term hazard, SURVEY §7.4.) Output (term_id, n_mentions,
    n_docs_approx).

    Correctness invariant: summing per-salt approx-distinct doc counts
    is valid ONLY because the salt is a pure function of doc_id, so
    each doc's rows land in exactly one salt bucket (disjoint doc
    sets). The salt is derived INSIDE this function — callers cannot
    supply their own — which is what enforces the invariant; do not
    refactor the salt column into a parameter."""
    salted = mentions.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salts))
    )
    partial = salted.groupBy("term_id", "salt").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.approx_count_distinct("doc_id").alias("docs_approx"),
    )
    return partial.groupBy("term_id").agg(
        F.sum("cnt").alias("n_mentions"),
        F.sum("docs_approx").alias("n_docs_approx"),
    )


def doc_mention_features(mentions: DataFrame) -> DataFrame:
    """Per-doc mention summary used by downstream linking:
    (doc_id, mentioned_terms: sorted array, n_mentions)."""
    return mentions.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("term_id")).alias("mentioned_terms"),
        F.count(F.lit(1)).alias("n_mentions"),
    )
