"""Heuristic validity rules as pure DataFrame expressions (no UDF).

The reference's completeness / validity / standardization checks
(engine.py:393-405, 475-499, 520-543) recast as per-row boolean flags over the
image+caption schema, per the north_star ("heuristic rules recast as DataFrame
expressions"). Everything here stays inside whole-stage codegen and pushes down.

Each flag is also mirrored 1:1 in `pipeline/reference_impl.py` (pure pandas) for
golden-label agreement; constants live here so the two can't drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from data_quality_check_spark.plans.quality_scores import FAKE_NULLS

MIN_CAPTION_CHARS = 5
MAX_CAPTION_CHARS = 1024
MIN_ALPHA_RATIO = 0.5
REPETITION_MIN_TOKENS = 6
MAX_REPETITION = 0.5  # flag when distinct/total < 0.5
MAX_ASPECT = 8.0
# Plausible-encoded-size slack above raw w·h·3: a fixed container-header +
# zlib-fixed-cost term plus the stored-block overhead that GROWS with the
# image (~5 bytes per 16 KiB block — a flat 64 would misflag every legitimate
# incompressible image above ~130 KB raw). Shared by the Spark expression, the
# DuckDB twin, and the pandas golden twin as pure int64 arithmetic.
BYTES_SLACK_BASE = 96
BYTES_SLACK_PER_16K = 5
# Container-POLICY allowlist for the image axis (validity-dimension analogue
# of the reference's domain rules, engine.py:475-499): the web-corpus
# containers this pipeline ACCEPTS, not the set pipeline/codecs.py can decode
# (codecs is a deterministic sandbox stand-in — a deployment swaps in real
# codecs for exactly these formats). Rows in other containers are flagged, not
# decoded; rows in allowed containers that still fail to decode are dropped by
# the decode-check stage (run.py flag_decode_failed), so an undecodable webp
# cannot leak through the full pipeline.
FMT_ALLOWED = ("png", "jpeg", "webp")
ALPHA_CLASS = "[^A-Za-zÀ-ÿ0-9 ]"  # chars NOT counted as "texty"
# The literal complement of ALPHA_CLASS, for `F.translate`. Counting texty chars
# as length(c) - length(translate(c, ALPHA_CHARS, "")) is arithmetically identical
# to length(regexp_replace(c, ALPHA_CLASS, "")) but ~45x cheaper: translate is a
# per-char table lookup while regexp_replace re-runs the regex engine per char
# (measured 20.6s vs 0.45s over 2M captions on 32 cores).
ALPHA_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 "
    + "".join(chr(i) for i in range(0xC0, 0x100))  # À-ÿ, same range the regex spans
)
# STRICT variant (VERDICT r4 task 6): the À-ÿ block contains two MATH signs —
# × (U+00D7) and ÷ (U+00F7) — that are not letters, so dimension-spam captions
# ("1024×768 1024×768 …") read as fully texty under the default class. The
# default DELIBERATELY keeps them: ALPHA_CLASS feeds flag_low_alpha, whose
# keep/drop labels are pinned to the reference parity contract
# (tests/test_reference_parity.py), and narrowing the class would flip labels
# on borderline captions. Opt in via caption_flags(..., strict_alpha=True)
# when reference parity is not the contract (e.g. a from-scratch corpus). The
# Gopher alpha-WORD class (gopher_flags) already excludes them.
ALPHA_CLASS_STRICT = "[^A-Za-zÀ-ÖØ-öø-ÿ0-9 ]"
ALPHA_CHARS_STRICT = "".join(c for c in ALPHA_CHARS if c not in "×÷")

# Canonical whitespace for trim/tokenize — exactly Java regex \s
# ([ \t\n\x0B\f\r]). Spark's F.trim strips ONLY the space character and
# Python's str.strip()/\s are Unicode-wide, so each engine must use this
# explicit set or keep labels drift on tab/newline/U+00A0-padded captions.
WS_CHARS = " \t\n\r\x0b\x0c"

FLAG_COLS = [
    "flag_caption_missing",
    "flag_fake_null",
    "flag_untrimmed",
    "flag_too_short",
    "flag_too_long",
    "flag_low_alpha",
    "flag_repetitive",
    "flag_bad_dims",
    "flag_bytes_implausible",
]


def _nvl(c: Column, default: bool) -> Column:
    return F.coalesce(c, F.lit(default))


def trim_col(c: Column) -> Column:
    """Trim the canonical WS_CHARS set (Python twin: `str.strip(WS_CHARS)`)."""
    return F.btrim(c, F.lit(WS_CHARS))


def caption_flags(caption: Column, strict_alpha: bool = False) -> dict[str, Column]:
    """All caption heuristic flags as one dict of pure Columns.

    `strict_alpha=True` swaps the texty-char class for ALPHA_CLASS_STRICT
    (× and ÷ no longer count as text — see the constant's comment for why the
    default keeps them); every other flag is unchanged."""
    trimmed = trim_col(caption)
    # Java \s ≡ WS_CHARS exactly, so the split stays a plain regex
    tokens = F.split(trimmed, r"\s+")
    n_tok = F.size(tokens)
    alpha_chars = ALPHA_CHARS_STRICT if strict_alpha else ALPHA_CHARS
    texty = F.length(caption) - F.length(F.translate(caption, alpha_chars, ""))
    return {
        "flag_caption_missing": caption.isNull() | (trimmed == ""),
        "flag_fake_null": _nvl(F.lower(trimmed).isin(FAKE_NULLS), False),
        "flag_untrimmed": _nvl(caption != trimmed, False),
        "flag_too_short": _nvl(
            (trimmed != "") & (F.length(trimmed) < MIN_CAPTION_CHARS), False
        ),
        "flag_too_long": _nvl(F.length(caption) > MAX_CAPTION_CHARS, False),
        "flag_low_alpha": _nvl(
            (F.length(caption) > 0) & (texty / F.length(caption) < MIN_ALPHA_RATIO), False
        ),
        "flag_repetitive": _nvl(
            (n_tok >= REPETITION_MIN_TOKENS)
            & (F.size(F.array_distinct(tokens)) / n_tok < MAX_REPETITION),
            False,
        ),
    }


def image_flags(w: Column, h: Column, byte_len: Column) -> dict[str, Column]:
    """Cross-field invariants (correlation-dimension analogue, engine.py:501-518):
    positive dims, bounded aspect ratio, plausible encoded size."""
    aspect_bad = (w.cast("double") / h > MAX_ASPECT) | (h.cast("double") / w > MAX_ASPECT)
    raw = w.cast("long") * h * 3
    # floor(raw/16384) in INT64 arithmetic: the DuckDB twin (`// 16384` on
    # BIGINT) and the pandas golden (`raw // 16384`) are exact for all int64,
    # so double division here could disagree by 1 at |raw| >= 2^53; an
    # arithmetic shift is floor division by 2^14 for every signed long.
    assert 16384 == 1 << 14
    slack = F.lit(BYTES_SLACK_BASE) + F.lit(BYTES_SLACK_PER_16K) * (
        F.shiftright(raw, 14) + 1
    )
    return {
        "flag_bad_dims": _nvl((w <= 0) | (h <= 0) | aspect_bad, True),
        "flag_bytes_implausible": _nvl((byte_len < 16) | (byte_len > raw + slack), True),
    }


def bad_fmt_flag(fmt: Column) -> Column:
    """True when the container format is outside FMT_ALLOWED (NULL counts as
    bad: an unreadable container can't be decoded). Kept OUT of FLAG_COLS —
    the reference labels predate this image-axis rule, so the filter pipeline's
    keep/drop parity contract is unchanged; gate queries opt in explicitly."""
    return _nvl(~F.lower(fmt).isin(*FMT_ALLOWED), True)


def with_flags(df: DataFrame, caption_col: str = "caption") -> DataFrame:
    """Adds all heuristic flag columns in one projection (single codegen stage).

    Uses `length(bytes)` only — never materializes `bytes` into any shuffle.
    """
    flags = caption_flags(F.col(caption_col))
    flags.update(image_flags(F.col("w"), F.col("h"), F.length(F.col("bytes"))))
    return df.withColumns(flags)


# ── DuckDB SQL twins (oracle side of the driver contract) ──
# Kept next to the Column builders so thresholds/charsets can't drift.
# DuckDB string literals don't process backslash escapes, so whitespace chars go
# in via chr(); the regex class keeps its backslashes because RE2 interprets
# them (and RE2's \s lacks \x0B, so the class is spelled out — it must equal
# WS_CHARS exactly, like Java's \s does on the Spark side).
_WS_SQL = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"
_WS_RE_SQL = r"'[ \t\n\r\x0B\f]+'"


def caption_flags_sql(c: str, strict_alpha: bool = False) -> dict[str, str]:
    """DuckDB expression per caption flag, semantics identical to `caption_flags`
    (same COALESCE defaults, same charset arithmetic, float division in both,
    same `strict_alpha` class swap)."""
    trimmed = f"trim({c}, {_WS_SQL})"
    toks = f"string_split_regex({trimmed}, {_WS_RE_SQL})"
    fakes = ", ".join(f"'{v}'" for v in FAKE_NULLS)
    alpha_chars = ALPHA_CHARS_STRICT if strict_alpha else ALPHA_CHARS
    texty = f"(length({c}) - length(translate({c}, '{alpha_chars}', '')))"
    return {
        "flag_caption_missing": f"({c} IS NULL OR {trimmed} = '')",
        "flag_fake_null": f"COALESCE(lower({trimmed}) IN ({fakes}), FALSE)",
        "flag_untrimmed": f"COALESCE({c} <> {trimmed}, FALSE)",
        "flag_too_short": (
            f"COALESCE({trimmed} <> '' AND length({trimmed}) < {MIN_CAPTION_CHARS}, FALSE)"
        ),
        "flag_too_long": f"COALESCE(length({c}) > {MAX_CAPTION_CHARS}, FALSE)",
        "flag_low_alpha": (
            f"COALESCE(length({c}) > 0 AND {texty} / length({c}) < {MIN_ALPHA_RATIO}, FALSE)"
        ),
        "flag_repetitive": (
            f"COALESCE(len({toks}) >= {REPETITION_MIN_TOKENS}"
            f" AND len(list_distinct({toks})) / len({toks}) < {MAX_REPETITION}, FALSE)"
        ),
    }


def image_flags_sql(w: str, h: str, byte_len: str) -> dict[str, str]:
    """DuckDB twins of `image_flags` — same NULL-defaults-to-True coalescing,
    same double-division aspect arithmetic, same int64 raw-size product."""
    aspect_bad = (
        f"(CAST({w} AS DOUBLE) / {h} > {MAX_ASPECT}"
        f" OR CAST({h} AS DOUBLE) / {w} > {MAX_ASPECT})"
    )
    raw = f"(CAST({w} AS BIGINT) * {h} * 3)"
    slack = f"({BYTES_SLACK_BASE} + {BYTES_SLACK_PER_16K} * ({raw} // 16384 + 1))"
    return {
        "flag_bad_dims": f"COALESCE({w} <= 0 OR {h} <= 0 OR {aspect_bad}, TRUE)",
        "flag_bytes_implausible": (
            f"COALESCE({byte_len} < 16 OR {byte_len} > {raw} + {slack}, TRUE)"
        ),
    }


def bad_fmt_sql(fmt: str) -> str:
    allowed = ", ".join(f"'{v}'" for v in FMT_ALLOWED)
    return f"COALESCE(lower({fmt}) NOT IN ({allowed}), TRUE)"


def heuristic_ok() -> Column:
    """True when no heuristic flag fired (untrimmed alone does NOT drop — it is
    normalized instead, mirroring the reference where whitespace is a
    standardization penalty, not a removal)."""
    dropping = [c for c in FLAG_COLS if c != "flag_untrimmed"]
    cond = ~F.col(dropping[0])
    for c in dropping[1:]:
        cond = cond & ~F.col(c)
    return cond


def boilerplate_captions(
    img: DataFrame,
    caption_col: str = "caption",
    image_key: str = "image_id",
    content_key: str = "phash",
    min_images: int = 2,
) -> DataFrame:
    """LAION-style boilerplate-caption detector: one stock caption ("image may
    contain…", alt-text templates) attached to MANY distinct images poisons
    caption-supervised training and cross-modal alignment stats. A caption
    fingerprint is boilerplate when it covers ≥ `min_images` rows AND ≥ 2
    distinct `content_key`s — same TEXT across different PICTURES. Same-phash
    repeats are re-crawls of one image (a dedup problem, not a caption
    problem) and deliberately do NOT fire this.

    100 TB shape: ONE map-side-combined group agg on the fingerprint; the
    exact count_distinct rides the same agg (Catalyst EXPAND — swap to
    approx_count_distinct at production scale exactly as the profiler's HLL
    flag does). Bytes never read: caption + metadata only.
    """
    from data_quality_check_spark.functions.text import fingerprint_col

    return (
        img.filter(F.col(caption_col).isNotNull())
        .groupBy(fingerprint_col(F.col(caption_col)).alias("caption_fp"))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.count_distinct(F.col(content_key)).alias("n_distinct_images"),
            F.min(image_key).alias(f"exemplar_{image_key}"),
        )
        .filter(
            (F.col("n_images") >= min_images) & (F.col("n_distinct_images") >= 2)
        )
    )


# SDXL/NovelAI-style aspect-ratio bucket ladder: 64-multiple (w, h) shapes
# near a 1024² pixel budget, square in the middle, ±4:1 at the extremes.
# Training batches are formed per bucket so images batch with like shapes and
# padding/crop waste stays bounded — the bucketing step every large-scale
# image-training pipeline runs after the quality filter.
ASPECT_LADDER: list[tuple[int, int]] = [
    (512, 2048), (576, 1728), (640, 1536), (704, 1408), (768, 1344),
    (832, 1216), (896, 1152), (960, 1088), (1024, 1024), (1088, 960),
    (1152, 896), (1216, 832), (1344, 768), (1408, 704), (1536, 640),
    (1728, 576), (2048, 512),
]


def _ladder_milli(ladder: list[tuple[int, int]]) -> list[int]:
    # exact integer milli-aspect per rung: (bw*1000) // bh
    return [(bw * 1000) // bh for bw, bh in ladder]


def aspect_bucket_col(w: Column, h: Column, ladder: list[tuple[int, int]] | None = None) -> Column:
    """Nearest-aspect bucket id (index into the ladder) as ONE codegen
    expression: argmin over |ar_milli − rung_milli|, ties to the lower id.

    The aspect ratio is quantized to integer milli-units — `(w*1000) DIV h` —
    BEFORE the argmin, so assignment is pure int64 arithmetic: exact in
    Spark, the DuckDB twin, and any future engine, with no log/float distance
    to disagree by an ulp at a bucket boundary. 1/1000 resolution is far
    below the ladder's rung spacing (≥ ~60 milli), so the quantization never
    changes which rung is nearest except at exact midpoints, where the
    lower-id tie-break is deterministic in both engines. argmin =
    `array_min` over (distance, id) structs — lexicographic struct ordering,
    no UDF, no join."""
    ladder = ladder or ASPECT_LADDER
    # floor(w*1000/h) through double division matches the DuckDB twin's
    # integer `//` exactly for every int32 dimension pair: an off-by-one
    # needs division error ≥ the 1/h boundary gap, i.e. w*1000 ≥ 2^53 —
    # unreachable for pixel dims (the int64-raw case that bit
    # flag_bytes_implausible does not arise here; dims are int32 columns)
    ar = F.floor((w.cast("long") * 1000) / h.cast("long")).cast("long")
    pairs = [
        F.struct(
            F.abs(ar - F.lit(m)).alias("d"), F.lit(i).alias("i")
        )
        for i, m in enumerate(_ladder_milli(ladder))
    ]
    # non-positive/NULL dims must yield NULL, not bucket 0: a NULL ar makes
    # every struct's d NULL and array_min would deterministically pick index
    # 0, silently batching flag_bad_dims rejects as extreme-portrait images
    # (and ANSI mode would throw on h=0)
    return F.when(
        w.isNotNull() & h.isNotNull() & (w > 0) & (h > 0),
        F.array_min(F.array(*pairs))["i"],
    )


def aspect_bucket_profile(
    img: DataFrame,
    w_col: str = "w",
    h_col: str = "h",
    ladder: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Per-bucket corpus profile for aspect-ratio-bucketed training: how many
    images land on each ladder rung and how many pixels they carry. Rows with
    non-positive or NULL dims are excluded (they are `flag_bad_dims` rejects —
    audited by image_flags, not batched for training).

    Output: (bucket_id, bw, bh, n_images, sum_pixels, min_ar_milli,
    max_ar_milli) — all integer columns, exactly hashable cross-engine.

    100 TB shape: ONE codegen projection (quantize + argmin over ~17 struct
    literals) + ONE ≤|ladder|-key map-side-combined aggregate. Bucket shapes
    resolve via element_at on array literals — no join anywhere."""
    ladder = ladder or ASPECT_LADDER
    w, h = F.col(w_col), F.col(h_col)
    rows = (
        img.filter(w.isNotNull() & h.isNotNull() & (w > 0) & (h > 0))
        .select(
            aspect_bucket_col(w, h, ladder).alias("bucket_id"),
            F.floor((w.cast("long") * 1000) / h.cast("long"))
            .cast("long")
            .alias("ar_milli"),
            (w.cast("long") * h.cast("long")).alias("pixels"),
        )
    )
    bw_arr = F.array(*[F.lit(bw) for bw, _ in ladder])
    bh_arr = F.array(*[F.lit(bh) for _, bh in ladder])
    return (
        rows.groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("pixels").alias("sum_pixels"),
            F.min("ar_milli").alias("min_ar_milli"),
            F.max("ar_milli").alias("max_ar_milli"),
        )
        .select(
            "bucket_id",
            F.element_at(bw_arr, F.col("bucket_id") + 1).alias("bw"),
            F.element_at(bh_arr, F.col("bucket_id") + 1).alias("bh"),
            "n_images",
            "sum_pixels",
            "min_ar_milli",
            "max_ar_milli",
        )
    )


# Gopher document-quality rules (Rae et al. 2021, arXiv:2112.11446 §A1.1) not
# already covered by caption_flags/repetition_stats. Thresholds are the
# paper's. Every ratio test is CROSS-MULTIPLIED into integer arithmetic
# (e.g. ratio > 0.1 becomes 10·num > den) so the flags are exact in both
# engines — no float division anywhere.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_ALPHA_RE = "[A-Za-zÀ-ÖØ-öø-ÿ]"  # Latin-1 LETTERS: × (U+00D7) and ÷
# (U+00F7) are excluded, same as SCRIPT_CLASSES — a ×-only token is not an
# alphabetic word, so dimension spam ("3×4 5×7 …") cannot pass the
# low-alpha-words rule
_WS_RE = "[ \\t\\n\\r\\x0B\\f]+"


def gopher_flags(caption: Column) -> dict[str, Column]:
    """Gopher §A1.1 rules as pure Spark expressions (ONE codegen projection,
    no UDF, no shuffle):

      * flag_word_count      — word count outside [50, 100000]
      * flag_mean_word_len   — mean word length outside [3, 10]
                               (3·n_words ≤ word_chars ≤ 10·n_words, exact)
      * flag_symbol_ratio    — ('#' + '…'-as-'...') to word ratio > 0.1
      * flag_bullet_lines    — > 90% of lines start with a bullet
      * flag_ellipsis_lines  — > 30% of lines end with an ellipsis
      * flag_few_stopwords   — fewer than 2 distinct Gopher stopwords
      * flag_low_alpha_words — < 80% of words contain an alphabetic char

    NULL/empty captions flag word_count only (0 words), everything else
    false — the missing-caption case is caption_flags' business."""
    c = F.coalesce(caption, F.lit(""))
    trimmed = trim_col(c)
    words = F.split(trimmed, _WS_RE)
    n_words = F.when(trimmed == "", F.lit(0)).otherwise(F.size(words)).cast("long")
    word_chars = F.length(F.regexp_replace(trimmed, _WS_RE, "")).cast("long")
    n_hash = (F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))).cast("long")
    n_ell = (
        (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    lines = F.split(c, "\n")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("-")
            | F.ltrim(l).startswith("*")
            | F.ltrim(l).startswith("•"),
        )
    ).cast("long")
    n_ell_line = F.size(
        F.filter(lines, lambda l: F.rtrim(l).endswith("..."))
    ).cast("long")
    low = F.lower(c)
    n_stop = sum(
        F.when(low.rlike(f"\\b{w}\\b"), 1).otherwise(0) for w in GOPHER_STOPWORDS
    ).cast("long")
    n_alpha_words = F.size(
        F.filter(words, lambda t: t.rlike(_ALPHA_RE))
    ).cast("long")
    n_alpha_words = F.when(trimmed == "", F.lit(0)).otherwise(n_alpha_words).cast("long")
    return {
        "flag_word_count": (n_words < GOPHER_MIN_WORDS) | (n_words > GOPHER_MAX_WORDS),
        "flag_mean_word_len": (n_words > 0)
        & ~((3 * n_words <= word_chars) & (word_chars <= 10 * n_words)),
        "flag_symbol_ratio": (n_words > 0) & (10 * (n_hash + n_ell) > n_words),
        "flag_bullet_lines": 10 * n_bullet > 9 * n_lines,
        "flag_ellipsis_lines": 10 * n_ell_line > 3 * n_lines,
        # (n_words > 0): empty/NULL captions flag word_count ONLY, per the
        # contract above — an empty doc is not a stopword violation
        "flag_few_stopwords": (n_words > 0) & (n_stop < 2),
        "flag_low_alpha_words": (n_words > 0) & (5 * n_alpha_words < 4 * n_words),
    }


def gopher_flags_sql(c: str) -> dict[str, str]:
    """DuckDB twins of gopher_flags, same integer arithmetic, RE2-safe."""
    cc = f"COALESCE({c}, '')"
    tr = f"trim({cc}, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12))"
    ws = "'[ \\t\\n\\r\\x0B\\f]+'"
    n_words = f"(CASE WHEN {tr} = '' THEN 0 ELSE len(regexp_split_to_array({tr}, {ws})) END)"
    word_chars = f"length(regexp_replace({tr}, {ws}, '', 'g'))"
    n_hash = f"(length({cc}) - length(replace({cc}, '#', '')))"
    n_ell = f"((length({cc}) - length(replace({cc}, '...', ''))) // 3)"
    lines = f"string_split({cc}, chr(10))"
    n_lines = f"len({lines})"
    n_bullet = (
        f"len(list_filter({lines}, l -> starts_with(ltrim(l), '-')"
        f" OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), chr(8226))))"
    )
    n_ell_line = f"len(list_filter({lines}, l -> rtrim(l) LIKE '%...'))"
    n_stop = "(" + " + ".join(
        f"CASE WHEN regexp_matches(lower({cc}), '\\b{w}\\b') THEN 1 ELSE 0 END"
        for w in GOPHER_STOPWORDS
    ) + ")"
    n_alpha = (
        f"(CASE WHEN {tr} = '' THEN 0 ELSE "
        f"len(list_filter(regexp_split_to_array({tr}, {ws}),"
        f" t -> regexp_matches(t, '[A-Za-zÀ-ÖØ-öø-ÿ]'))) END)"
    )
    return {
        "flag_word_count": f"({n_words} < {GOPHER_MIN_WORDS} OR {n_words} > {GOPHER_MAX_WORDS})",
        "flag_mean_word_len": (
            f"({n_words} > 0 AND NOT (3 * {n_words} <= {word_chars}"
            f" AND {word_chars} <= 10 * {n_words}))"
        ),
        "flag_symbol_ratio": f"({n_words} > 0 AND 10 * ({n_hash} + {n_ell}) > {n_words})",
        "flag_bullet_lines": f"(10 * {n_bullet} > 9 * {n_lines})",
        "flag_ellipsis_lines": f"(10 * {n_ell_line} > 3 * {n_lines})",
        "flag_few_stopwords": f"({n_words} > 0 AND {n_stop} < 2)",
        "flag_low_alpha_words": f"({n_words} > 0 AND 5 * {n_alpha} < 4 * {n_words})",
    }
