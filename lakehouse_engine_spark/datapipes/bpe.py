"""Distributed BPE (byte-pair-encoding) vocabulary training and encoding.

Real subword tokenization for the training-data pipeline — not the
regex approximation in ``text.py`` (which estimates counts without a
model). ``bpe_train`` learns a merge table from the corpus; ``bpe_encode``
tokenizes with it.

Scale design — the key fact is that BPE trains on the WORD-FREQUENCY
table, not the corpus:

* ONE corpus pass builds ``(distinct word, count)`` — everything after
  runs on that table (vocabulary-sized: ~10^6-10^8 rows at 100 TB, vs
  10^12 corpus tokens).
* Words are held as space-separated symbol strings ("h e l l o </w>");
  a merge round is: explode adjacent symbol pairs (JVM array ops),
  weighted count (map-side combined), collect the top pair(s) — a few
  KB to the driver — then apply them with chained ``regexp_replace``
  (codegen, no Python). ``merges_per_round > 1`` batches non-interacting
  merges into one pass (the standard trainer speedup; exact canonical
  BPE at ``merges_per_round=1`` — batched merges may reorder ranks when
  top pairs interact).
* ``localCheckpoint`` truncates the per-round lineage the way the
  connected-components loop does (dedup.py); under
  ``spark.dynamicAllocation.enabled`` the ``_materialize`` helper
  instead persists (recomputable) behind a plan-truncating LogicalRDD
  wrapper with an explicit ``_release`` per round, and one-shot size
  probes (``_probe_materialize``) skip materialization entirely — so
  executor scale-in cannot strand non-recomputable checkpoint blocks
  and long-lived sessions cannot leak cache entries.
* ``bpe_encode`` never tokenizes the corpus in Python: it encodes the
  DISTINCT words (small table) with the merge list in an Arrow-batched
  pandas pass, then broadcast-joins the word→pieces dictionary back onto
  the corpus and reassembles per document with JVM array functions.
"""

from __future__ import annotations

import re
from typing import Callable, List, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from lakehouse_engine_spark.datapipes.driver_tier import bounded_rows
from lakehouse_engine_spark.datapipes.materialize import (
    iter_materialize,
    probe_materialize,
    release,
)

from lakehouse_engine_spark.datapipes.registry import register, register_contextual
from lakehouse_engine_spark.datapipes.text import tokens


# Materialization policy shared with the other iterative loops (CC,
# PageRank) — see datapipes/materialize.py for the full
# static/checkpoint-dir/persist-wrapper decision table and the
# release protocol.
_materialize = iter_materialize
_release = release
_probe_materialize = probe_materialize


TransformerFn = Callable[[DataFrame], DataFrame]

END = "</w>"


def _to_symbols(word_col):
    """'hello' -> 'h e l l o </w>' (symbol-spaced string)."""
    return F.concat(F.array_join(F.split(word_col, ""), " "), F.lit(" " + END))


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )


# The GPT-2 pretokenizer (Radford et al. 2019, public encoder.py):
#   's|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+
# Everything here EXCEPT the \s+(?!\S) lookahead is plain alternation.
# RE2 (DuckDB, and the portability bar text_sentence_split set) has no
# lookahead, so the split is restated exactly without it: \s+(?!\S)
# consumes a whitespace run MINUS its final character whenever a
# non-space follows — i.e. the run's last space detaches and glues onto
# the next word (the " word" tokens GPT-2 vocabularies are built on).
# Inserting a marker before that final whitespace char
# (regexp_replace '(\s)(\S)' -> MARK + '$1$2') and then running the
# lookahead-FREE alternation inside each marker-delimited segment yields
# the identical token stream: within a segment, whitespace is either the
# single space the ` ?` alternatives absorb, or a trailing run the plain
# \s+ branch takes whole — exactly the two cases the lookahead decided.
# The whitespace CLASS is spelled out literally instead of \s: the three
# engines that must agree bit-for-bit disagree on \s (Java includes \x0b
# but not U+00A0; RE2's \s is ASCII-only; the reference Python pattern's
# \s is the full Unicode set). This literal set IS Python's Unicode \s
# (enumerated from re) — embedded as raw characters because RE2 has no
# \uXXXX escape, so raw chars are the only spelling valid in both Java
# regex and RE2.
GPT2_WS_CHARS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)
GPT2_SPLIT_PATTERN = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    f"| ?\\p{{L}}+| ?\\p{{N}}+| ?[^{GPT2_WS_CHARS}\\p{{L}}\\p{{N}}]+"
    f"|[{GPT2_WS_CHARS}]+"
)
# U+E000 (private use): cannot collide with any byte symbol, and is
# stripped from the input first so adversarial text cannot forge splits.
GPT2_MARK = "\ue000"


# The Spark-side pattern spells the \s+(?!\S) branch DIRECTLY — Java
# regex has lookahead, and one regexp_extract_all pass measured 2.2x
# faster than the marker chain (r14: 0.53 s -> 0.24 s per sf0.1 corpus
# pass, regex work ~4x less). (?![^WS]) is (?!\S) restated over the
# literal class. The marker construction above remains the documented
# RE2-portable equivalent the DuckDB oracles replay; the two are pinned
# token-identical in tests (corpus + adversarial whitespace strings).
GPT2_JAVA_PATTERN = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    f"| ?\\p{{L}}+| ?\\p{{N}}+| ?[^{GPT2_WS_CHARS}\\p{{L}}\\p{{N}}]+"
    f"|[{GPT2_WS_CHARS}]+(?![^{GPT2_WS_CHARS}])|[{GPT2_WS_CHARS}]+"
)


def gpt2_pretokens(col):
    """GPT-2 regex pretokenization as ONE native ``regexp_extract_all``
    over the reference pattern (Java regex keeps the ``\\s+(?!\\S)``
    lookahead; the RE2-portable marker construction documented above is
    what SQL oracles replay — bit-identical by the equivalence argument,
    and pinned equal in tests). Tokens KEEP their leading space (the
    GPT-2 convention); whitespace-only tokens (``"\\n\\n"`` between
    paragraphs) survive. The U+E000 strip is kept so marker-replaying
    oracles agree on adversarial inputs too."""
    cleaned = F.regexp_replace(col, GPT2_MARK, "")
    return F.regexp_extract_all(cleaned, F.lit(GPT2_JAVA_PATTERN), F.lit(0))


def _pretokens(col, pretokenizer: str):
    if pretokenizer == "whitespace":
        return tokens(col)
    if pretokenizer == "gpt2":
        return gpt2_pretokens(col)
    raise ValueError(
        f"pretokenizer must be 'whitespace' or 'gpt2', got {pretokenizer!r}"
    )


def apply_merges_py(word: str, merges: List[Tuple[str, str]]) -> List[str]:
    """Reference encoder: apply merges in rank order to one word."""
    syms = list(word) + [END]
    for a, b in merges:
        i, out = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


# Word tables at or under this many distinct rows train on the DRIVER:
# the same canonical merge loop over the collected (symbol-string, count)
# rows — bit-identical picks and merges (pair counts are exact integer
# sums; the (count DESC, pair ASC) tie-break compares Python str the way
# Spark compares UTF8String — both are Unicode code-point order for valid
# strings) — while the distributed per-round jobs remain the >threshold
# path. Why: canonical training at merges_per_round=1 scheduled ~2 Spark
# jobs PER MERGE (pair-count + checkpoint), pure fixed overhead whenever
# the vocabulary is bounded; 200k rows × ~60 B is ~12 MB driver-side, the
# same cost class as the encoder's broadcast dictionary gate.
DRIVER_TRAIN_THRESHOLD_ROWS = 200_000


def _merge_adjacent(syms: List[str], a: str, b: str) -> List[str]:
    """One left-to-right non-overlapping merge pass over a symbol list —
    exactly the anchored ``regexp_replace`` pass the distributed loop
    applies to the space-joined symbol string (Java's replaceAll scans
    left to right and resumes after each match, so "a a a" under (a,a)
    becomes "aa a" on both paths)."""
    out: List[str] = []
    i, n, ab = 0, len(syms), a + b
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_merge_loop_driver(
    rows: List[Tuple[str, int]], num_merges: int, merges_per_round: int
) -> List[Tuple[str, str]]:
    """Driver-side replica of :func:`_train_merge_loop`'s round body over
    collected ``(__s, __cnt)`` rows: same exact-integer pair counting,
    same ``(count DESC, pair ASC)`` order, same top-(3×merges_per_round)
    candidate window, same non-interacting batch pick, same sequential
    merge passes. Kept step-for-step parallel to the distributed loop so
    the two can never drift (pinned equal in tests/test_datapipes.py)."""
    words: List[Tuple[List[str], int]] = [
        (s.split(" "), int(c)) for s, c in rows
    ]
    merges: List[Tuple[str, str]] = []
    while len(merges) < num_merges:
        cnt: dict = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                p = syms[i] + " " + syms[i + 1]
                cnt[p] = cnt.get(p, 0) + c
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[
            : merges_per_round * 3
        ]
        if not top:
            break
        picked: List[Tuple[str, str]] = []
        used: set = set()
        for pair, _n in top:
            if (
                len(picked) >= merges_per_round
                or len(merges) + len(picked) >= num_merges
            ):
                break
            a, b = pair.split(" ")
            if a in used or b in used or (a + b) in used:
                continue
            picked.append((a, b))
            used.update((a, b, a + b))
        if not picked:
            break
        for a, b in picked:
            words = [(_merge_adjacent(syms, a, b), c) for syms, c in words]
        merges.extend(picked)
    return merges


@register("bpe_train")
def bpe_train(
    text_col: str = "text",
    num_merges: int = 100,
    merges_per_round: int = 1,
    lowercase: bool = False,
) -> TransformerFn:
    """Learn a BPE merge table from the corpus; returns one row per merge:
    ``(rank, left, right, merged)`` in application order, ties broken by
    pair string (deterministic). Iterative by nature (each merge depends
    on the counts AFTER the previous one), so there is no SQL oracle —
    correctness is pinned against a pure-Python reference trainer in
    tests. Caveat: a corpus WORD spelled literally ``</w>`` could, after
    enough merges, produce a symbol colliding with the end-of-word
    marker; whitespace tokenization makes this effectively impossible on
    natural text, but pre-filter adversarial corpora.
    """
    if num_merges < 1:
        raise ValueError(f"bpe_train: num_merges must be >= 1, got {num_merges}")
    if merges_per_round < 1:
        raise ValueError(
            f"bpe_train: merges_per_round must be >= 1, got {merges_per_round}"
        )

    def _train(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
        words = _materialize(
            _word_counts(df.select(src.alias(text_col)), text_col)
            .select(_to_symbols(F.col("__w")).alias("__s"), "__cnt")
        )
        return _train_merge_loop(
            spark, words, num_merges, merges_per_round, "bpe_train"
        )

    return _train


def _train_merge_loop(
    spark,
    words: DataFrame,
    num_merges: int,
    merges_per_round: int,
    op: str,
) -> DataFrame:
    """The shared BPE merge loop over a materialized ``(__s symbol
    string, __cnt)`` word-frequency table — char-level (``bpe_train``,
    with ``</w>``) and byte-level (``bpe_byte_train``, byte symbols, no
    marker) seed it differently but train identically. Takes OWNERSHIP
    of ``words``' cache handle (releases it every round and at exit).

    Tables at or under :data:`DRIVER_TRAIN_THRESHOLD_ROWS` rows (probed
    over the already-materialized table) train on the driver via
    :func:`_train_merge_loop_driver` — zero per-round Spark jobs,
    identical merge table."""
    head = bounded_rows(words, DRIVER_TRAIN_THRESHOLD_ROWS, op)
    if head is not None:
        _release(words)
        picked = _train_merge_loop_driver(
            [(r["__s"], r["__cnt"]) for r in head],
            num_merges,
            merges_per_round,
        )
        return spark.createDataFrame(
            [(i, a, b, a + b) for i, (a, b) in enumerate(picked)],
            "rank INT, left STRING, right STRING, merged STRING",
        )
    merges: List[Tuple[str, str]] = []
    try:
        while len(merges) < num_merges:
            syms = F.split(F.col("__s"), " ")
            pairs = words.select(
                F.col("__cnt"),
                F.explode(
                    F.zip_with(
                        F.slice(syms, 1, F.size(syms) - 1),
                        F.slice(syms, 2, F.size(syms) - 1),
                        lambda a, b: F.concat_ws(" ", a, b),
                    )
                ).alias("__pair"),
            )
            top = (
                pairs.groupBy("__pair")
                .agg(F.sum("__cnt").alias("__n"))
                .orderBy(F.desc("__n"), F.asc("__pair"))
                .limit(merges_per_round * 3)
                .collect()
            )
            if not top:
                break
            # batch only non-interacting pairs: no symbol shared with an
            # already-picked pair this round (keeps one regex pass exact)
            picked: List[Tuple[str, str]] = []
            used: set = set()
            for row in top:
                if (
                    len(picked) >= merges_per_round
                    or len(merges) + len(picked) >= num_merges
                ):
                    break
                a, b = row["__pair"].split(" ")
                if a in used or b in used or (a + b) in used:
                    continue
                picked.append((a, b))
                used.update((a, b, a + b))
            if not picked:
                break
            col = F.col("__s")
            for a, b in picked:
                pat = (
                    "(^|(?<= ))"
                    + re.escape(a)
                    + " "
                    + re.escape(b)
                    + "((?= )|$)"
                )
                col = F.regexp_replace(col, pat, re.sub(r"([$\\])", r"\\\1", a + b))
            # lazy truncation: the NEXT round's pair-count job (or the
            # final release) materializes the checkpoint — one job per
            # round instead of two (30-round canonical training halves)
            nxt = _materialize(
                words.select(col.alias("__s"), "__cnt"), eager=False
            )
            _release(words)  # previous round's cache handle, if any
            words = nxt
            merges.extend(picked)
    finally:
        _release(words)  # the merge list lives on the driver now
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank INT, left STRING, right STRING, merged STRING",
    )


@register("bpe_encode")
def bpe_encode(
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "bpe_tokens",
    lowercase: bool = False,
    broadcast_dictionary: bool | None = None,
    broadcast_threshold_rows: int = 2_000_000,
    pretokenizer: str = "whitespace",
) -> TransformerFn:
    """Tokenize the corpus with a trained merge table: adds ``output_col``
    (array of subword pieces, word-order preserved) and
    ``<output_col>_n``. ``merges`` is the ``bpe_train`` output (collected
    to the driver — vocabulary-sized). Reassembly is keyed on ``id_col``,
    which must be UNIQUE per row (duplicate ids would interleave their
    token streams); token-less documents survive with an empty array.

    Corpus cost: one distinct-word pass, a pandas encode over the
    DISTINCT words only, a join back, and JVM-side per-document
    reassembly — Python never sees corpus-scale data.

    Broadcast gate: the dictionary is *distinct word types*, which on
    clean prose is vocabulary-sized but on 100 TB of web text (typos,
    URLs, code) can reach 10⁸–10⁹ rows × piece arrays — force-broadcasting
    that OOMs executors. Default (``broadcast_dictionary=None``) counts
    the distinct-word table (one aggregate over the already-persisted
    distinct — no extra corpus pass) and broadcasts only under
    ``broadcast_threshold_rows``; above it the encode join runs as a
    regular shuffle join on ``__w``. Pass ``True``/``False`` to skip the
    count and pin the strategy.
    """

    def _make():
        mlist = [
            (r["left"], r["right"]) for r in merges.orderBy("rank").collect()
        ]
        return lambda w: apply_merges_py(w, mlist)

    return _dictionary_encode(
        "bpe_encode", _make, text_col, id_col, output_col,
        lowercase, broadcast_dictionary, broadcast_threshold_rows,
        pretokenizer,
    )


# Dictionary-attach tier bounds (rows of DISTINCT words). Under
# ``_LITERAL_MAP_THRESHOLD_ROWS`` the word→pieces table becomes a literal
# ``create_map`` looked up inside a pure projection — zero joins, zero
# shuffles, zero Python stages for the whole encode (the r14 measurement:
# the broadcast-exchange build of a 61-row dictionary plus the reassembly
# shuffle cost ~1.5 s/query of pure overhead at sf0.1). Under
# ``_DRIVER_ENCODE_THRESHOLD_ROWS`` the pieces are computed on the DRIVER
# (the merge list already lives there) and broadcast as plain rows — no
# ArrowEvalPython inside a BroadcastExchange, no persist, no count job.
# Both bounds are dictionary-sized gates, corpus-size independent; real
# web-scale vocabularies (10⁶–10⁹ words) fall through to the distributed
# pandas encode + size-gated join exactly as before.
_LITERAL_MAP_THRESHOLD_ROWS = 256
_DRIVER_ENCODE_THRESHOLD_ROWS = 200_000
_EMPTY_PIECES = "array<string>"


def _dictionary_encode(
    op: str,
    make_word_encoder,
    text_col: str,
    id_col: str,
    output_col: str,
    lowercase: bool,
    broadcast_dictionary: bool | None,
    broadcast_threshold_rows: int,
    pretokenizer: str = "whitespace",
) -> TransformerFn:
    """The shared distinct-word dictionary-encode plan behind
    :func:`bpe_encode` (word-level, ``apply_merges_py``),
    :func:`bpe_byte_encode` (byte-level, ``apply_merges_byte_py``) and
    :func:`wordpiece_encode` (greedy longest-match): one distinct-word
    pass, pieces computed over DISTINCT words only, the size-tiered
    dictionary attach, JVM per-document reassembly. ONE copy so a fix
    to the plan (tier gates, reassembly order) can never drift between
    the encoders. ``make_word_encoder`` is called once per application
    (collecting the merge table / vocabulary to the driver) and returns
    a ``word -> [pieces]`` callable that also rides the pandas closure
    in the distributed tiers.

    Attach tiers by dictionary size (``broadcast_dictionary=False`` pins
    tier 4; ``True`` pins a broadcast but still picks the cheapest one):

    1. ≤ ``_LITERAL_MAP_THRESHOLD_ROWS``: literal-map projection —
       no join, no reassembly shuffle, no Python stage.
    2. ≤ ``_DRIVER_ENCODE_THRESHOLD_ROWS``: driver-encoded rows,
       broadcast join + per-doc reassembly.
    3. ≤ ``broadcast_threshold_rows``: distributed pandas encode,
       broadcast join (the pre-r14 default path).
    4. else: distributed pandas encode, shuffle join on ``__w``.
    """

    def _encode(df: DataFrame) -> DataFrame:
        from pyspark import StorageLevel
        from pyspark.sql import types as T

        spark = df.sparkSession
        word_encoder = make_word_encoder()

        def _enc_fn(words):
            return words.map(word_encoder)

        _enc = F.pandas_udf(_enc_fn, "array<string>")

        src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
        with_words = df.withColumn("__words", _pretokens(src, pretokenizer))
        distinct_words = with_words.select(
            F.explode("__words").alias("__w")
        ).distinct()

        # bounded probe: complete dictionary iff the limit was not hit.
        # Tiers 1/2 are broadcast-class strategies, so with an unpinned
        # broadcast_dictionary they must also respect the caller's
        # broadcast_threshold_rows budget (=0 pins the shuffle join).
        head = None
        probe_cap = _DRIVER_ENCODE_THRESHOLD_ROWS
        if broadcast_dictionary is None:
            probe_cap = min(probe_cap, broadcast_threshold_rows)
        if broadcast_dictionary is not False:
            rows = bounded_rows(distinct_words, probe_cap, op)
            if rows is not None:
                head = [(r["__w"], word_encoder(r["__w"])) for r in rows]

        if head is not None and len(head) <= _LITERAL_MAP_THRESHOLD_ROWS:
            # tier 1: literal-map attach. try_element_at (not element_at)
            # so ANSI mode cannot raise on a key the map must contain by
            # construction; pretokenizers on NULL text yield a NULL array,
            # which flatten propagates and the coalesce restores to [].
            if head:
                entries = []
                for w, pieces in head:
                    entries.append(F.lit(w))
                    entries.append(
                        F.array(*[F.lit(p) for p in pieces])
                        if pieces
                        else F.array().cast(_EMPTY_PIECES)
                    )
                lookup = F.create_map(*entries)
                assembled = F.flatten(
                    F.transform(
                        F.col("__words"), lambda w: F.try_element_at(lookup, w)
                    )
                )
            else:  # empty corpus: no words anywhere
                assembled = F.lit(None).cast(_EMPTY_PIECES)
            return (
                with_words.withColumn(
                    output_col,
                    F.coalesce(assembled, F.array().cast(_EMPTY_PIECES)),
                )
                .drop("__words")
                .withColumn(f"{output_col}_n", F.size(output_col).cast("int"))
            )

        if head is not None:
            # tier 2: driver-encoded dictionary rows, broadcast join
            dictionary = F.broadcast(
                spark.createDataFrame(
                    head,
                    T.StructType(
                        [
                            T.StructField("__w", T.StringType()),
                            T.StructField(
                                "__pieces", T.ArrayType(T.StringType())
                            ),
                        ]
                    ),
                )
            )
        else:
            # tiers 3/4: distributed pandas encode over the persisted
            # distinct words (reused by the size probe, so the pandas
            # encode runs exactly once and the count never invokes Python)
            cached = distinct_words.persist(StorageLevel.MEMORY_AND_DISK)
            do_broadcast = broadcast_dictionary
            if do_broadcast is None:
                do_broadcast = cached.count() <= broadcast_threshold_rows
            dictionary = cached.withColumn("__pieces", _enc(F.col("__w")))
            if do_broadcast:
                dictionary = F.broadcast(dictionary)
        exploded = with_words.select(
            F.col(id_col).alias("__id"),
            F.posexplode("__words").alias("__p", "__w"),
        )
        assembled = (
            exploded.join(dictionary, "__w")
            .groupBy("__id")
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("__p", "__pieces"))),
                        lambda s: s["__pieces"],
                    )
                ).alias("__assembled")
            )
        )
        # left join back so token-less docs keep a row (empty array)
        return (
            df.join(assembled, df[id_col] == assembled["__id"], "left")
            .drop("__id")
            .withColumn(
                output_col,
                F.coalesce("__assembled", F.array().cast("array<string>")),
            )
            .drop("__assembled")
            .withColumn(f"{output_col}_n", F.size(output_col).cast("int"))
        )

    return _encode


@register("bpe_byte_train")
def bpe_byte_train(
    text_col: str = "text",
    num_merges: int = 100,
    merges_per_round: int = 1,
    lowercase: bool = False,
    pretokenizer: str = "whitespace",
) -> TransformerFn:
    """Learn a BYTE-level BPE merge table (the GPT-2 training scheme):
    pretokens (whitespace or the GPT-2 regex split) map to their UTF-8
    byte symbols through the public bytes→unicode bijection — no
    ``</w>`` marker, the pretokenizer split IS the boundary — then the
    same canonical merge loop as :func:`bpe_train`. With
    ``pretokenizer="gpt2"`` this is end-to-end GPT-2 tokenizer training;
    feed the result to ``bpe_byte_encode(pretokenizer="gpt2")``.

    Scale posture is :func:`bpe_train`'s: ONE corpus pass builds the
    (distinct pretoken, count) table; the byte-symbol mapping runs as an
    Arrow-batched pandas pass over that vocabulary-sized table only
    (same cost class as the encoder's distinct-word UDF — Python never
    sees corpus-scale data); every merge round is JVM pair-explode +
    map-side-combined count + chained regexp_replace. No marker-collision
    caveat: byte symbols are single BMP chars, a corpus word can never
    spell one. Iterative by nature; pinned against the pure-Python
    reference trainer in tests and SQL-oracled via unrolled rounds
    (dp162), the dp69 convention."""
    if num_merges < 1:
        raise ValueError(
            f"bpe_byte_train: num_merges must be >= 1, got {num_merges}"
        )
    if merges_per_round < 1:
        raise ValueError(
            f"bpe_byte_train: merges_per_round must be >= 1, "
            f"got {merges_per_round}"
        )
    _pretokens(F.lit(""), pretokenizer)  # validate the name eagerly

    def _train(df: DataFrame) -> DataFrame:
        spark = df.sparkSession

        def _sym_fn(ws):
            return ws.map(lambda w: " ".join(byte_symbols(w)))

        _sym = F.pandas_udf(_sym_fn, "string")
        src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
        counts = (
            df.select(F.explode(_pretokens(src, pretokenizer)).alias("__w"))
            .groupBy("__w")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        words = _materialize(counts.select(_sym("__w").alias("__s"), "__cnt"))
        return _train_merge_loop(
            spark, words, num_merges, merges_per_round, "bpe_byte_train"
        )

    return _train


@register_contextual("bpe_encode_with")
def bpe_encode_with(data: dict, merges_id: str, **args) -> TransformerFn:
    """ACON wrapper for :func:`bpe_encode`: resolve the merge table from an
    upstream spec_id (e.g. a ``bpe_train`` output)."""

    def _enc(df: DataFrame) -> DataFrame:
        if merges_id not in data:
            raise ValueError(f"bpe_encode_with: unknown spec_id {merges_id!r}")
        return bpe_encode(merges=data[merges_id], **args)(df)

    return _enc


def wordpiece_py(
    word: str,
    vocab: set,
    cont_prefix: str = "##",
    unk_token: str = "[UNK]",
    max_word_len: int = 100,
) -> List[str]:
    """Greedy longest-match-first WordPiece segmentation of one word
    (the BERT tokenizer's WordpieceTokenizer, Devlin et al. 2018): from
    each position take the LONGEST vocab piece (continuation positions
    prefixed ``##``); any position with no match makes the whole word
    ``unk_token``, as does a word over ``max_word_len`` chars."""
    if not word or len(word) > max_word_len:
        return [unk_token]
    pieces: List[str] = []
    pos, n = 0, len(word)
    while pos < n:
        end = n
        found = None
        while end > pos:
            piece = word[pos:end]
            if pos > 0:
                piece = cont_prefix + piece
            if piece in vocab:
                found = piece
                break
            end -= 1
        if found is None:
            return [unk_token]
        pieces.append(found)
        pos = end
    return pieces


@register("wordpiece_encode")
def wordpiece_encode(
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "wp_tokens",
    cont_prefix: str = "##",
    unk_token: str = "[UNK]",
    max_word_len: int = 100,
    lowercase: bool = False,
    broadcast_dictionary: bool | None = None,
    broadcast_threshold_rows: int = 2_000_000,
) -> TransformerFn:
    """Tokenize the corpus with a fixed WordPiece vocabulary (the BERT
    family's greedy longest-match-first subword scheme — the other
    mainstream tokenizer next to ``bpe_encode``'s merge-rank scan).
    ``vocab`` is one ``piece`` string column: word-initial pieces plain,
    continuation pieces carrying ``cont_prefix``. Adds ``output_col``
    (array of pieces, word order preserved) and ``<output_col>_n``;
    un-segmentable or over-long words become ``unk_token``. ``id_col``
    must be unique per row (the ``bpe_encode`` reassembly contract).

    Same production plan as ``bpe_encode``: one distinct-word pass, a
    pandas encode over DISTINCT words only (the vocab set rides the
    closure — vocabulary-sized), a size-gated dictionary join
    (broadcast under ``broadcast_threshold_rows`` distinct words, else
    a shuffle join), and JVM-side per-document reassembly — Python
    never sees corpus-scale data. The greedy scan is a pure
    per-position function, so a SQL oracle replays it exactly
    (longest-match table + deterministic walk).
    """

    def _make():
        piece_col = vocab.columns[0]
        vset = {r[piece_col] for r in vocab.select(piece_col).collect()}
        return lambda w: wordpiece_py(
            w, vset, cont_prefix, unk_token, max_word_len
        )

    # r14: the shared size-tiered plan (literal-map projection /
    # driver-encoded broadcast rows / distributed pandas + gated join) —
    # one copy with the BPE encoders instead of a parallel body
    return _dictionary_encode(
        "wordpiece_encode", _make, text_col, id_col, output_col,
        lowercase, broadcast_dictionary, broadcast_threshold_rows,
    )


SEP = "\x01"  # path separator: sorts below every token character, so
# joined-path string order == piece-tuple lexicographic order (the
# property both the Python DP and the SQL oracle's tie-break rely on)


def unigram_viterbi_py(
    word: str,
    vocab: dict,
    max_piece_len: int,
    unk_token: str = "[UNK]",
    unk_logp_s: int = -100_000,
    max_word_len: int = 100,
):
    """Viterbi segmentation of one word under a fixed unigram LM (the
    SentencePiece unigram scheme, Kudo 2018): maximize the sum of piece
    scores; deterministic tie-break (max score, then fewest pieces, then
    lexicographically smallest SEP-joined path — identical to the SQL
    oracle's ORDER BY). Unsegmentable or over-long words collapse to
    ``(unk_token, unk_logp_s)``. Returns (pieces, score_s)."""
    if not word or len(word) > max_word_len:
        return [unk_token], unk_logp_s
    n = len(word)
    # best[i]: (neg_score, n_pieces, path_str) — tuple order IS the rule
    best: list = [None] * (n + 1)
    best[0] = (0, 0, "")
    for i in range(1, n + 1):
        cand = None
        for j in range(max(0, i - max_piece_len), i):
            prev = best[j]
            if prev is None:
                continue
            lp = vocab.get(word[j:i])
            if lp is None:
                continue
            path = word[j:i] if not prev[2] else prev[2] + SEP + word[j:i]
            key = (prev[0] - lp, prev[1] + 1, path)
            if cand is None or key < cand:
                cand = key
        best[i] = cand
    if best[n] is None:
        return [unk_token], unk_logp_s
    return best[n][2].split(SEP), -best[n][0]


@register("unigram_encode")
def unigram_encode(
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "ug_tokens",
    unk_token: str = "[UNK]",
    unk_logp_s: int = -100_000,
    max_word_len: int = 100,
    lowercase: bool = False,
    broadcast_dictionary: bool | None = None,
    broadcast_threshold_rows: int = 2_000_000,
) -> TransformerFn:
    """Tokenize the corpus with a fixed unigram language model — the
    SentencePiece scheme (Kudo 2018) used by the LLaMA/T5 tokenizer
    family, completing the trio next to ``bpe_encode`` (merge ranks) and
    ``wordpiece_encode`` (greedy longest match). ``vocab`` carries two
    columns: ``piece`` (string) and ``logp_s`` (INTEGER scaled log-prob,
    caller's grid — exact arithmetic end to end, no floats anywhere).
    Each word takes the Viterbi-optimal segmentation (max total score;
    ties → fewest pieces, then lexicographically smallest path), so the
    encoding is deterministic and an external SQL engine can replay it
    by exhaustive path enumeration on bounded words. Adds ``output_col``
    (pieces, word order preserved), ``<output_col>_n``, and
    ``<output_col>_score_s`` (exact summed piece scores; UNK words
    contribute ``unk_logp_s``).

    Same production plan as the other two encoders: one distinct-word
    pass, a pandas DP over DISTINCT words only (the vocab dict rides the
    closure), a size-gated dictionary join, JVM-side per-document
    reassembly — Python never touches corpus-scale data, and the DP is
    O(len · max_piece_len) per distinct word.
    """

    def _encode(df: DataFrame) -> DataFrame:
        cols = vocab.columns
        rows = vocab.select(cols[0], cols[1]).collect()
        vmap = {r[0]: int(r[1]) for r in rows}
        # empty vocab: every word is unsegmentable -> unk_token (the
        # wordpiece_encode degenerate contract, not an error)
        max_piece = max((len(p) for p in vmap), default=1)

        def _enc_fn(words):
            recs = [
                unigram_viterbi_py(
                    w, vmap, max_piece, unk_token, unk_logp_s, max_word_len
                )
                for w in words
            ]
            return pd.DataFrame(
                {"p": [r[0] for r in recs], "s": [r[1] for r in recs]}
            )

        _enc = F.pandas_udf(_enc_fn, "struct<p: array<string>, s: long>")

        src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
        with_words = df.withColumn("__words", tokens(src))
        distinct_words = with_words.select(
            F.explode("__words").alias("__w")
        ).distinct()
        # r14 driver-encode tiers (the _dictionary_encode rules, same
        # thresholds): vocab-bounded distinct words are Viterbi-
        # segmented on the driver — the unigram LM dict already lives
        # there — then attached via the literal-map projection (≤256
        # words; scores ride a second parallel map) or broadcast as
        # plain rows: no probe-materialize, no count job, no
        # ArrowEvalPython inside a BroadcastExchange.
        head = None
        probe_cap = _DRIVER_ENCODE_THRESHOLD_ROWS
        if broadcast_dictionary is None:
            probe_cap = min(probe_cap, broadcast_threshold_rows)
        if broadcast_dictionary is not False:
            hrows = bounded_rows(distinct_words, probe_cap, "unigram_encode")
            if hrows is not None:
                head = []
                for r in hrows:
                    p, s = unigram_viterbi_py(
                        r["__w"], vmap, max_piece, unk_token,
                        unk_logp_s, max_word_len,
                    )
                    head.append((r["__w"], p, int(s)))
        if head is not None and len(head) <= _LITERAL_MAP_THRESHOLD_ROWS:
            # r14 tier 1, the _dictionary_encode literal-map rule: ≤256
            # distinct words → pieces and scores attach as literal
            # create_map lookups inside a pure projection — no dictionary
            # join, no per-doc reassembly shuffle, no Python stage. The
            # scored output rides as TWO parallel maps (word→pieces,
            # word→score) so each lookup stays a plain ANSI-safe
            # try_element_at; both maps contain every distinct word by
            # construction. NULL-text docs: the tokenizer yields a NULL
            # array, flatten/aggregate propagate it, and the coalesces
            # restore the join path's []/0.
            if head:
                p_entries: list = []
                s_entries: list = []
                for w, pieces, score in head:
                    p_entries.append(F.lit(w))
                    p_entries.append(
                        F.array(*[F.lit(p) for p in pieces])
                        if pieces
                        else F.array().cast("array<string>")
                    )
                    s_entries.append(F.lit(w))
                    s_entries.append(F.lit(score).cast("long"))
                p_lookup = F.create_map(*p_entries)
                s_lookup = F.create_map(*s_entries)
                assembled = F.flatten(
                    F.transform(
                        F.col("__words"),
                        lambda w: F.try_element_at(p_lookup, w),
                    )
                )
                score_col = F.aggregate(
                    F.col("__words"),
                    F.lit(0).cast("long"),
                    lambda acc, w: acc + F.try_element_at(s_lookup, w),
                )
            else:  # empty corpus: no words anywhere
                assembled = F.lit(None).cast("array<string>")
                score_col = F.lit(None).cast("long")
            return (
                with_words.withColumn(
                    output_col,
                    F.coalesce(
                        assembled, F.array().cast("array<string>")
                    ),
                )
                .withColumn(
                    f"{output_col}_n", F.size(output_col).cast("int")
                )
                .withColumn(
                    f"{output_col}_score_s",
                    F.coalesce(score_col, F.lit(0)).cast("long"),
                )
                .drop("__words")
            )

        if head is not None:
            from pyspark.sql import types as T

            dictionary = F.broadcast(
                df.sparkSession.createDataFrame(
                    head,
                    T.StructType(
                        [
                            T.StructField("__w", T.StringType()),
                            T.StructField(
                                "__pieces", T.ArrayType(T.StringType())
                            ),
                            T.StructField("__score", T.LongType()),
                        ]
                    ),
                )
            )
        else:
            do_broadcast = broadcast_dictionary
            if do_broadcast is None:
                # one-shot probe policy (_probe_materialize): checkpoint
                # on static clusters, recompute under dynamic allocation
                distinct_words = _probe_materialize(distinct_words)
                do_broadcast = (
                    distinct_words.count() <= broadcast_threshold_rows
                )
            enc = _enc(F.col("__w"))
            dictionary = distinct_words.select(
                "__w", enc["p"].alias("__pieces"), enc["s"].alias("__score")
            )
            if do_broadcast:
                dictionary = F.broadcast(dictionary)
        exploded = with_words.select(
            F.col(id_col).alias("__id"),
            F.posexplode("__words").alias("__p", "__w"),
        )
        assembled = (
            exploded.join(dictionary, "__w")
            .groupBy("__id")
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__p", "__pieces"))
                        ),
                        lambda s: s["__pieces"],
                    )
                ).alias("__assembled"),
                F.sum("__score").alias("__sc"),
            )
        )
        return (
            df.join(assembled, df[id_col] == assembled["__id"], "left")
            .drop("__id")
            .withColumn(
                output_col,
                F.coalesce("__assembled", F.array().cast("array<string>")),
            )
            .drop("__assembled")
            .withColumn(f"{output_col}_n", F.size(output_col).cast("int"))
            .withColumn(
                f"{output_col}_score_s",
                F.coalesce("__sc", F.lit(0)).cast("long"),
            )
            .drop("__sc")
        )

    return _encode


@register_contextual("unigram_encode_with")
def unigram_encode_with(data: dict, vocab_id: str, **args) -> TransformerFn:
    """ACON wrapper for :func:`unigram_encode`: resolve the unigram LM
    vocabulary from an upstream spec_id."""

    def _enc(df: DataFrame) -> DataFrame:
        if vocab_id not in data:
            raise ValueError(
                f"unigram_encode_with: unknown spec_id {vocab_id!r}"
            )
        return unigram_encode(vocab=data[vocab_id], **args)(df)

    return _enc


@register_contextual("wordpiece_encode_with")
def wordpiece_encode_with(data: dict, vocab_id: str, **args) -> TransformerFn:
    """ACON wrapper for :func:`wordpiece_encode`: resolve the vocabulary
    from an upstream spec_id."""

    def _enc(df: DataFrame) -> DataFrame:
        if vocab_id not in data:
            raise ValueError(
                f"wordpiece_encode_with: unknown spec_id {vocab_id!r}"
            )
        return wordpiece_encode(vocab=data[vocab_id], **args)(df)

    return _enc


def bytes_to_unicode_table() -> dict:
    """The GPT-2 byte→unicode map (Radford et al. 2019, public
    ``encoder.py``): printable latin-1 bytes map to themselves; the
    remaining 68 bytes shift to 256+n — a BIJECTION from bytes onto 256
    distinct printable BMP characters, so any byte sequence becomes a
    plain string the merge machinery (and a SQL oracle) can scan."""
    bs = (
        list(range(33, 127)) + list(range(161, 173)) + list(range(174, 256))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


_B2U = bytes_to_unicode_table()


def byte_symbols(word: str) -> str:
    """UTF-8 bytes of ``word`` mapped through the GPT-2 table — the
    symbol string byte-level merges operate on."""
    return "".join(_B2U[b] for b in word.encode("utf-8"))


def apply_merges_byte_py(word: str, merges: List[Tuple[str, str]]) -> List[str]:
    """Reference byte-level encoder: map to byte symbols, then the same
    left-to-right non-overlapping merge scan as :func:`apply_merges_py`
    — WITHOUT the ``</w>`` marker (byte-level's word boundary is the
    pretokenizer split itself, the GPT-2 convention)."""
    syms = list(byte_symbols(word))
    for a, b in merges:
        i, out = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@register("bpe_byte_encode")
def bpe_byte_encode(
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "bpe_tokens",
    lowercase: bool = False,
    broadcast_dictionary: bool | None = None,
    broadcast_threshold_rows: int = 2_000_000,
    pretokenizer: str = "whitespace",
) -> TransformerFn:
    """BYTE-level BPE encode (the GPT-2 scheme): every word is first
    mapped to its UTF-8 bytes through the public bytes→unicode bijection,
    then merged with the trained table — so EVERY string is encodable
    (no ``[UNK]`` exists; an unseen emoji just stays as its byte
    symbols), the property modern tokenizers buy with byte fallback.
    ``merges`` rows are ``(rank, left, right, merged)`` over the
    byte-symbol alphabet (ASCII letters map to themselves, so common
    merges look like ``("t","h")``; a multibyte character contributes
    one symbol per byte).

    Same production plan as :func:`bpe_encode` (whose word-level
    contract and broadcast gate this op shares verbatim): one
    distinct-word pass, a pandas encode over DISTINCT words only, a
    size-gated dictionary join, JVM per-document reassembly — Python
    never touches corpus-scale data. Differences: no ``</w>`` marker
    (byte-level's boundary is the pretokenizer split itself), and the
    dictionary's pieces are byte symbols.

    ``pretokenizer``: ``"whitespace"`` (default, the engine's historical
    boundary) or ``"gpt2"`` — the standard contraction/letter/digit/
    punct split of the public GPT-2 encoder (see
    :data:`GPT2_SPLIT_PATTERN`), under which tokens keep their leading
    space so fertility numbers match production byte-level tokenizers.
    The "distinct word" dictionary then holds distinct PRETOKENS
    (``" the"`` and ``"the"`` are separate entries — roughly 2× word
    types, same corpus-scale posture).
    """

    def _make():
        mlist = [
            (r["left"], r["right"]) for r in merges.orderBy("rank").collect()
        ]
        return lambda w: apply_merges_byte_py(w, mlist)

    return _dictionary_encode(
        "bpe_byte_encode", _make, text_col, id_col, output_col,
        lowercase, broadcast_dictionary, broadcast_threshold_rows,
        pretokenizer,
    )
