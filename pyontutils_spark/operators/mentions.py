"""Stage 2: ontology-term mention detection (broadcast Aho-Corasick).

Re-expresses SciGraph's annotate endpoint
(``pyontutils/scigraph_client.py:174-197``: ``longestOnly``,
``minLength``, category filters) as a Spark stage: the automaton is
built once on the driver from the lexicon (labels + synonyms degraded
via ``lower().strip()``, ``interlex_sql.py:22``), broadcast to the
executors, and applied per Arrow batch with ``mapInPandas`` — O(text)
per document, zero per-row Python calls from the JVM's perspective.

Output: one row per mention ``(url, start, end, surface, pattern_norm)``
with leftmost-longest, word-boundary, non-overlapping semantics.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernel.ac import MAX_REGEX_PATTERNS, build_matcher
from ..kernel.norm import local_degrade

MENTION_SCHEMA = ("url string, start int, end int, "
                  "surface string, pattern_norm string")


def _patterns(lexicon: list[dict], min_length: int = 3,
              types: set[str] | None = None) -> set[str]:
    """Unique degraded label/synonym patterns of at least ``min_length``
    chars; ``types`` filters lexicon categories (annotate's includeCat)."""
    pats = set()
    for t in lexicon:
        if types is None or t.get("type") in types:
            pats.add(t["label_norm"])
            pats.update(map(local_degrade, t.get("synonyms", ())))
    return {p for p in pats if len(p) >= min_length}


def _in_lang(pages: DataFrame, lang_filter: str | None) -> DataFrame:
    """Declarative language filter ahead of any UDF (pushed to the scan
    when reading parquet)."""
    if lang_filter is None:
        return pages
    return pages.filter(pages["lang"] == lang_filter)


def build_automaton(lexicon: list[dict], min_length: int = 3,
                    types: set[str] | None = None):
    """Unique degraded patterns -> payload is the pattern itself (link
    candidates are resolved later by a broadcast join on pattern_norm).
    Implementation auto-selected: C-speed regex alternation up to
    ``MAX_REGEX_PATTERNS``, pure-Python Aho-Corasick past it (identical
    leftmost-longest semantics either way)."""
    return build_matcher(((p, p) for p in sorted(
        _patterns(lexicon, min_length, types))), min_length=min_length)


def detect_mentions(pages: DataFrame, automaton_bc,
                    text_col: str = "text",
                    lang_filter: str | None = "en") -> DataFrame:
    """pages(url, text, lang, ...) -> mentions DataFrame.

    ``automaton_bc``: a Broadcast[AhoCorasick] (build once per job —
    ``spark.sparkContext.broadcast(build_automaton(lex))``).
    ``lang_filter`` prunes non-matching languages *before* the UDF.
    """
    src = _in_lang(pages, lang_filter).select("url", text_col)

    def find_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac = automaton_bc.value
        for pdf in batches:
            yield _match_batch(ac, pdf, pdf[text_col])

    return src.mapInPandas(find_batches, schema=MENTION_SCHEMA)


_JAVA_BOUNDARY_L = r"(?<![\p{IsAlphabetic}\p{Digit}])"
_JAVA_BOUNDARY_R = r"(?![\p{IsAlphabetic}\p{Digit}])"


def jvm_mention_pattern(lexicon: list[dict], min_length: int = 3) -> str:
    """Java-regex alternation equivalent to the broadcast matcher:
    longest-first alternatives (= longest-at-position like the AC's
    longest_only), case-insensitive, flanked by the same
    non-alphanumeric boundary the AC enforces (Unicode alnum via
    lookarounds — Java \\b would wrongly treat '_' as a word char)."""
    import re as _re

    ordered = sorted(_patterns(lexicon, min_length),
                     key=lambda p: (-len(p), p))
    alternation = "|".join(_re.escape(p) for p in ordered)
    # (?iu) = CASE_INSENSITIVE + UNICODE_CASE: Java's bare (?i) folds
    # ASCII only, which would miss e.g. 'MÜLLER CELL' against pattern
    # 'müller cell' while the AC/fused path folds with Python
    # str.lower() (full Unicode).
    return (f"(?iu){_JAVA_BOUNDARY_L}(?:{alternation})"
            f"{_JAVA_BOUNDARY_R}")


def detect_mentions_jvm(pages: DataFrame, lexicon: list[dict],
                        text_col: str = "text",
                        lang_filter: str | None = "en",
                        min_length: int = 3) -> DataFrame:
    """Whole-stage-codegen mention detection for rows whose text is
    already extracted: ONE JVM ``regexp_extract_all`` per document, no
    Python anywhere in the plan.  Returns (url, surface, pattern_norm)
    — offsets are not produced (use detect_mentions/_fused when the
    annotate contract needs start/end); the triple-factory path only
    consumes pattern_norm.  Output mentions equal the broadcast
    matcher's on the same text (equality-tested).

    The triple factory runs it on the pre-extracted rows inside
    ``detect_mentions_hybrid``; on its own it serves deployments where
    Python workers are unavailable or memory-capped (it needs none).
    Its cost is the benchmark's ``mentions_jvm`` layer
    (``perfbench/run.py --workload factory --trace 1``)."""
    pattern = jvm_mention_pattern(lexicon, min_length)
    src = _in_lang(pages, lang_filter).filter(F.col(text_col).isNotNull())
    return (src.select(
        "url",
        F.explode(F.regexp_extract_all(F.col(text_col),
                                       F.lit(pattern), F.lit(0)))
        .alias("surface"))
        .withColumn("pattern_norm", F.lower("surface")))


def detect_mentions_hybrid(pages: DataFrame, lexicon: list[dict],
                           automaton_bc,
                           lang_filter: str | None = "en",
                           min_length: int = 3) -> DataFrame:
    """The triple factory's mention stage: rows whose text is already
    extracted run the pure-JVM regexp path, rows that still need
    extraction run the fused extract+match Arrow pass — one Python
    stage in the plan (costs: the benchmark's ``mentions_jvm`` and
    ``mentions_fused`` layers).  Falls back to fused-for-everything
    past ``MAX_REGEX_PATTERNS`` patterns.  Output (url, surface,
    pattern_norm) equals fused on (url, pattern_norm) multisets; use
    detect_mentions/_fused when the annotate contract needs offsets."""
    cols = ("url", "surface", "pattern_norm")
    src = _in_lang(pages, lang_filter)
    if len(_patterns(lexicon, min_length)) > MAX_REGEX_PATTERNS:
        return detect_mentions_fused(src, automaton_bc,
                                     lang_filter=None).select(*cols)
    jvm_part = detect_mentions_jvm(src, lexicon, lang_filter=None,
                                   min_length=min_length)
    return jvm_part.unionByName(
        _fused_branch(src, automaton_bc, extract=True).select(*cols))


def broadcast_automaton(spark: SparkSession, lexicon: list[dict],
                        min_length: int = 3):
    return spark.sparkContext.broadcast(
        build_automaton(lexicon, min_length=min_length))


def detect_mentions_fused(pages: DataFrame, automaton_bc,
                          lang_filter: str | None = "en",
                          passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Fused extract+mention stage, minimizing JVM<->Python traffic.

    A naive plan ships html to Python (extract), text back to the JVM,
    then text to Python again (mentions) — three Arrow socket passes
    over the corpus.  At 100 TB that socket copying dominates (observed
    as kernel time ~= user time in local runs).  This operator:

    - routes rows with a pre-extracted ``text`` through a stage that
      never reads html (column pruned at the scan), and
    - rows with null text through a stage that extracts *inside* the
      same Python pass that finds mentions, shipping html once and
      returning only the (tiny) mention rows.

    Output schema/content identical to ``detect_mentions`` over
    ``with_extracted_text(pages)``.
    """
    src = _in_lang(pages, lang_filter)
    return (_fused_branch(src, automaton_bc, False, passthrough)
            .unionByName(_fused_branch(src, automaton_bc, True,
                                       passthrough)))


def _fused_branch(src: DataFrame, automaton_bc, extract: bool,
                  passthrough: tuple[str, ...] = ()) -> DataFrame:
    """One branch of the fused stage: rows with text match it as is
    (html pruned at the scan); with ``extract``, rows with null text
    extract html inside the same Python pass that matches."""
    from ..kernel.extract import html_to_text

    col = "html" if extract else "text"
    types = {f.name: f.dataType.simpleString() for f in src.schema.fields}
    schema = ", ".join([MENTION_SCHEMA,
                        *(f"{c} {types[c]}" for c in passthrough)])

    def find(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac = automaton_bc.value
        for pdf in batches:
            texts = pdf[col]
            if extract:
                texts = texts.map(
                    lambda h: None if h is None else html_to_text(bytes(h)))
            yield _match_batch(ac, pdf, texts, passthrough)

    text = F.col("text")
    return (src.filter(text.isNull() if extract else text.isNotNull())
            .select("url", col, *passthrough)
            .mapInPandas(find, schema=schema))


def _match_batch(ac, pdf: pd.DataFrame, texts,
                 passthrough: tuple[str, ...] = ()) -> pd.DataFrame:
    rows_idx, starts, ends, surfaces, pats = [], [], [], [], []
    for i, text in enumerate(texts):
        if not text:
            continue
        for s, e, pat in ac.find(text, longest_only=True):
            rows_idx.append(i)
            starts.append(s)
            ends.append(e)
            surfaces.append(text[s:e])
            pats.append(pat)
    out = pd.DataFrame({
        "url": pdf["url"].iloc[rows_idx].to_numpy()
        if rows_idx else pd.Series([], dtype="object"),
        "start": pd.Series(starts, dtype="int32"),
        "end": pd.Series(ends, dtype="int32"),
        "surface": pd.Series(surfaces, dtype="object"),
        "pattern_norm": pd.Series(pats, dtype="object"),
    })
    for c in passthrough:
        out[c] = pdf[c].iloc[rows_idx].to_numpy() if rows_idx else \
            pd.Series([], dtype=pdf[c].dtype)
    return out
