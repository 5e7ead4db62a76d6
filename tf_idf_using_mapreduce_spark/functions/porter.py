"""Classic Porter stemmer (M.F. Porter, "An algorithm for suffix stripping",
Program 14(3) 1980), three ways from ONE rule table:

1. ``porter_stem_py(word)`` — pure-Python reference implementation (goldens).
2. ``porter_layers(col)`` — a list of ``(column_name, sql_expr)`` assignments in
   **dialect-portable SQL** (valid in both Spark SQL and DuckDB), so the engine's
   hot path runs entirely JVM-side under whole-stage codegen *and* the DuckDB
   correctness oracle runs the byte-identical algorithm. Portability rules:
   only ``translate/replace/substr/length/right/instr/concat(||)/greatest/CASE``
   — no regexp backreferences (``$1`` vs ``\\1`` differ), no regexp 'g' flags
   (Spark is global-by-default, DuckDB is not).
3. ``with_stem(df)`` / ``stem_sql_select(...)`` — Spark DataFrame / oracle-SQL
   assemblies of (2).

Reference parity: the reference stems with OpenNLP ``PorterStemmer``
(``DocumentFreq.java:29,69``, ``IDF.java:31,92``), an implementation of the same
1980 algorithm; divergences are only on Porter's published edge cases and are
pinned by tests/test_porter.py on the fixture vocabulary (SURVEY.md §7.3).

The vowel/consonant classifier treats 'y' per the paper (consonant at word
start or after a vowel, vowel after a consonant); the SQL version encodes this
with a sentinel-vowel prepend + pair replace, exact except for 'yy' runs
(nonexistent in English).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------- #
# Rule tables (shared spec for the Python and SQL implementations)
# --------------------------------------------------------------------------- #

# (suffix, replacement); condition m(stem) > 0. Longest-match-first per Porter.
STEP2_RULES = [
    ("ational", "ate"), ("ization", "ize"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("tional", "tion"), ("biliti", "ble"), ("ation", "ate"),
    ("alism", "al"), ("aliti", "al"), ("iviti", "ive"), ("entli", "ent"),
    ("ousli", "ous"), ("enci", "ence"), ("anci", "ance"), ("izer", "ize"),
    ("abli", "able"), ("alli", "al"), ("ator", "ate"), ("eli", "e"),
]

# condition m(stem) > 0
STEP3_RULES = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ness", ""), ("ful", ""),
]

# condition m(stem) > 1; "ion" additionally requires stem ending in 's' or 't'
STEP4_RULES = [
    ("ement", ""), ("ance", ""), ("ence", ""), ("able", ""), ("ible", ""),
    ("ment", ""), ("ant", ""), ("ent", ""), ("ion", ""), ("ism", ""),
    ("ate", ""), ("iti", ""), ("ous", ""), ("ive", ""), ("ize", ""),
    ("al", ""), ("er", ""), ("ic", ""), ("ou", ""),
]

_VOWELS = "aeiou"


# --------------------------------------------------------------------------- #
# Pure-Python reference implementation
# --------------------------------------------------------------------------- #

def _is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(w, i - 1)
    return True


def _pat(w: str) -> str:
    return "".join("c" if _is_cons(w, i) else "v" for i in range(len(w)))


def _m(stem: str) -> int:
    return _pat(stem).count("vc")


def _has_vowel(stem: str) -> bool:
    return "v" in _pat(stem)


def _ends_double_cons(w: str) -> bool:
    return len(w) >= 2 and w[-1] == w[-2] and _is_cons(w, len(w) - 1)


def _ends_cvc(w: str) -> bool:
    return (
        len(w) >= 3
        and _pat(w)[-3:] == "cvc"
        and w[-1] not in "wxy"
    )


def porter_stem_py(word: str) -> str:
    """Classic Porter stem of a lowercase alphabetic token."""
    w = word
    if len(w) <= 2:
        return w

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # Step 1b
    fixup = False
    if w.endswith("eed"):
        if _m(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and _has_vowel(w[:-2]):
        w = w[:-2]
        fixup = True
    elif w.endswith("ing") and _has_vowel(w[:-3]):
        w = w[:-3]
        fixup = True
    if fixup:
        if w[-2:] in ("at", "bl", "iz"):
            w += "e"
        elif _ends_double_cons(w) and w[-1] not in "lsz":
            w = w[:-1]
        elif _m(w) == 1 and _ends_cvc(w):
            w += "e"

    # Step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # Steps 2-4
    for rules, cond in ((STEP2_RULES, 1), (STEP3_RULES, 1), (STEP4_RULES, 2)):
        for suf, repl in rules:
            if w.endswith(suf):
                stem = w[: -len(suf)]
                ok = _m(stem) > 0 if cond == 1 else _m(stem) > 1
                if suf == "ion":
                    ok = ok and stem[-1:] in ("s", "t")
                if ok:
                    w = stem + repl
                break

    # Step 5a
    if w.endswith("e"):
        stem = w[:-1]
        if _m(stem) > 1:
            w = stem
        elif _m(stem) == 1 and not _ends_cvc(stem):
            w = stem

    # Step 5b
    if w.endswith("ll") and _m(w) > 1:
        w = w[:-1]

    return w


# --------------------------------------------------------------------------- #
# Dialect-portable SQL generation
# --------------------------------------------------------------------------- #

_CONS_NO_Y = "bcdfghjklmnpqrstvwxz"


def _pat_sql(w: str) -> str:
    """cv-pattern of ``w`` ('v'/'c' string, same length) — portable SQL.

    Sentinel vowel 'a' is prepended so an initial 'y' sees a preceding vowel
    (→ consonant, per the paper), then stripped with substr(..., 2).
    """
    marked = f"translate(concat('a', {w}), 'aeiou', 'AAAAA')"
    y_fixed = f"replace({marked}, 'Ay', 'AC')"
    mapping_src = "AyC" + _CONS_NO_Y
    mapping_dst = "vvc" + "c" * len(_CONS_NO_Y)
    return f"substr(translate({y_fixed}, '{mapping_src}', '{mapping_dst}'), 2)"


def _stem_pat(p: str, k: int) -> str:
    """pat of the stem obtained by dropping the last k chars (pat is per-char)."""
    return f"substr({p}, 1, greatest(length({p}) - {k}, 0))"


def _m_sql(p: str, k: int) -> str:
    px = _stem_pat(p, k)
    return f"cast((length({px}) - length(replace({px}, 'vc', ''))) / 2 as int)"


def _has_vowel_sql(p: str, k: int) -> str:
    return f"instr({_stem_pat(p, k)}, 'v') > 0"


def _drop(w: str, k: int) -> str:
    return f"substr({w}, 1, greatest(length({w}) - {k}, 0))"


def _ends_cvc_sql(p: str, w: str, k: int) -> str:
    """*o on the stem formed by dropping k chars of w (k may be 0)."""
    pstem = _stem_pat(p, k) if k else p
    last = f"substr({w}, greatest(length({w}) - {k}, 1), 1)"
    return f"(right({pstem}, 3) = 'cvc' AND {last} NOT IN ('w', 'x', 'y'))"


def _suffix_step_layers(prefix: str, w: str, p: str,
                        rules: list[tuple[str, str]], min_m: int,
                        has_ion: bool, out: str) -> list[tuple[str, str]]:
    """Steps 2/3/4 as THREE small layers instead of one giant CASE (r15,
    guide §7.2 "very large plans — planning time itself can become the
    bottleneck"): the matched-suffix LENGTH (``<prefix>k``) and REPLACEMENT
    (``<prefix>r``) each pick from a longest-match-first CASE of tiny
    literals, then ONE dynamic-k measure test gates the rewrite. The former
    shape inlined the ~200-char measure expression into every one of the
    (up to 19) branches — the resulting tree dominated per-query
    optimizer/codegen time (measured: the whole 29-row stem dictionary cost
    ~0.8 s per execution at ANY data size, almost all of it driver-side
    tree handling).

    Value-identical by construction: the branch ORDER is the same
    longest-match-first sort, the measure condition is the same ``_m_sql``
    text with the k literal replaced by the k column, and Porter's
    no-shorter-suffix-tried rule is preserved (a failed condition leaves the
    word unchanged — k only records the LONGEST match). The 'ion' guard
    applies iff the matched rule is 'ion', identified as k = 3 AND the last
    three characters being 'ion' (two 3-char suffixes cannot both match).
    Pinned by the SQL≡Python hypothesis test (tests/test_porter.py)."""
    sorted_rules = sorted(rules, key=lambda r: -len(r[0]))
    kc, rc = f"{prefix}k", f"{prefix}r"
    k_whens = " ".join(
        f"WHEN right({w}, {len(suf)}) = '{suf}' THEN {len(suf)}"
        for suf, _ in sorted_rules
    )
    r_whens = " ".join(
        f"WHEN right({w}, {len(suf)}) = '{suf}' THEN '{repl}'"
        for suf, repl in sorted_rules
    )
    px = f"substr({p}, 1, greatest(length({p}) - {kc}, 0))"
    m_dyn = f"cast((length({px}) - length(replace({px}, 'vc', ''))) / 2 as int)"
    cond = f"{m_dyn} > {min_m}"
    if has_ion:
        ion_rule = f"({kc} = 3 AND right({w}, 3) = 'ion')"
        ion_ok = f"substr({w}, greatest(length({w}) - 3, 1), 1) IN ('s', 't')"
        cond = f"{cond} AND (NOT {ion_rule} OR {ion_ok})"
    rewritten = f"substr({w}, 1, greatest(length({w}) - {kc}, 0)) || {rc}"
    gated = (
        f"CASE WHEN {kc} = 0 THEN {w}"
        f" WHEN {cond} THEN {rewritten}"
        f" ELSE {w} END"
    )
    return [
        (kc, f"CASE {k_whens} ELSE 0 END"),
        (rc, f"CASE {r_whens} ELSE '' END"),
        (out, gated),
    ]


def porter_layers(input_col: str) -> list[tuple[str, str]]:
    """Sequential column assignments implementing Porter; last one is 'stem'.

    Each tuple is ``(new_column_name, portable_sql_expr)``; expressions only
    reference ``input_col`` and previously-assigned columns, so both the Spark
    side (``withColumn`` chain) and the oracle (nested subqueries) stay linear
    in size — no exponential textual substitution.
    """
    layers: list[tuple[str, str]] = []
    layers.append(("pw0", f"lower({input_col})"))

    # Step 1a (suffix tests only — no measure needed)
    layers.append(("pw1", (
        "CASE WHEN right(pw0, 4) = 'sses' THEN " + _drop("pw0", 2) +
        " WHEN right(pw0, 3) = 'ies' THEN " + _drop("pw0", 2) +
        " WHEN right(pw0, 2) = 'ss' THEN pw0"
        " WHEN right(pw0, 1) = 's' THEN " + _drop("pw0", 1) +
        " ELSE pw0 END"
    )))

    # Step 1b
    layers.append(("pp1", _pat_sql("pw1")))
    layers.append(("pfb", (
        "CASE WHEN right(pw1, 3) = 'eed' THEN 0"
        f" WHEN right(pw1, 2) = 'ed' AND {_has_vowel_sql('pp1', 2)} THEN 1"
        f" WHEN right(pw1, 3) = 'ing' AND {_has_vowel_sql('pp1', 3)} THEN 1"
        " ELSE 0 END"
    )))
    layers.append(("pw2", (
        f"CASE WHEN right(pw1, 3) = 'eed' THEN (CASE WHEN {_m_sql('pp1', 3)} > 0 THEN {_drop('pw1', 1)} ELSE pw1 END)"
        f" WHEN right(pw1, 2) = 'ed' AND {_has_vowel_sql('pp1', 2)} THEN {_drop('pw1', 2)}"
        f" WHEN right(pw1, 3) = 'ing' AND {_has_vowel_sql('pp1', 3)} THEN {_drop('pw1', 3)}"
        " ELSE pw1 END"
    )))

    # Step 1b fix-up (operates on the post-removal word)
    layers.append(("pp2", _pat_sql("pw2")))
    prev_char = "substr(pw2, greatest(length(pw2) - 1, 1), 1)"
    layers.append(("pw3", (
        "CASE WHEN pfb = 0 THEN pw2"
        " WHEN right(pw2, 2) IN ('at', 'bl', 'iz') THEN pw2 || 'e'"
        f" WHEN right(pp2, 2) = 'cc' AND right(pw2, 1) = {prev_char}"
        f"  AND right(pw2, 1) NOT IN ('l', 's', 'z') THEN {_drop('pw2', 1)}"
        f" WHEN {_m_sql('pp2', 0)} = 1 AND {_ends_cvc_sql('pp2', 'pw2', 0)} THEN pw2 || 'e'"
        " ELSE pw2 END"
    )))

    # Step 1c
    layers.append(("pp3", _pat_sql("pw3")))
    layers.append(("pw4", (
        f"CASE WHEN right(pw3, 1) = 'y' AND {_has_vowel_sql('pp3', 1)}"
        f" THEN {_drop('pw3', 1)} || 'i' ELSE pw3 END"
    )))

    # Steps 2, 3, 4 (decomposed k/replacement/gate layers — see
    # _suffix_step_layers for the size rationale and the equivalence proof)
    layers.append(("pp4", _pat_sql("pw4")))
    layers += _suffix_step_layers("s2", "pw4", "pp4", STEP2_RULES, 0,
                                  has_ion=False, out="pw5")
    layers.append(("pp5", _pat_sql("pw5")))
    layers += _suffix_step_layers("s3", "pw5", "pp5", STEP3_RULES, 0,
                                  has_ion=False, out="pw6")
    layers.append(("pp6", _pat_sql("pw6")))
    layers += _suffix_step_layers("s4", "pw6", "pp6", STEP4_RULES, 1,
                                  has_ion=True, out="pw7")

    # Step 5a
    layers.append(("pp7", _pat_sql("pw7")))
    layers.append(("pw8", (
        "CASE WHEN right(pw7, 1) = 'e' THEN"
        f" (CASE WHEN {_m_sql('pp7', 1)} > 1 THEN {_drop('pw7', 1)}"
        f"   WHEN {_m_sql('pp7', 1)} = 1 AND NOT {_ends_cvc_sql('pp7', 'pw7', 1)} THEN {_drop('pw7', 1)}"
        "   ELSE pw7 END)"
        " ELSE pw7 END"
    )))

    # Step 5b
    layers.append(("pp8", _pat_sql("pw8")))
    layers.append(("pw9", (
        f"CASE WHEN right(pw8, 2) = 'll' AND {_m_sql('pp8', 0)} > 1 THEN {_drop('pw8', 1)} ELSE pw8 END"
    )))

    # Porter's published implementation returns words of length <= 2 unchanged.
    layers.append(("stem", f"CASE WHEN length({input_col}) <= 2 THEN lower({input_col}) ELSE pw9 END"))
    return layers


_INTERNAL_COLS = [name for name, _ in porter_layers("x") if name != "stem"]


def with_stem(df: DataFrame, token_col: str = "token", out_col: str = "stem") -> DataFrame:
    """Append ``out_col`` with the Porter stem of ``token_col`` (JVM-side exprs)."""
    for name, expr in porter_layers(token_col):
        df = df.withColumn(name, F.expr(expr))
    if out_col != "stem":
        df = df.withColumnRenamed("stem", out_col)
    return df.drop(*_INTERNAL_COLS)


def stem_sql_select(inner_select: str, token_col: str = "token", extra_cols: str = "") -> str:
    """Wrap ``inner_select`` (a SELECT producing ``token_col`` [+ extra cols])
    in nested subqueries that add a ``stem`` column — portable SQL for the
    DuckDB oracle, byte-identical algorithm to :func:`with_stem`.

    ``extra_cols`` is a comma-led list of passthrough columns, e.g. ", doc_id".
    """
    sql = f"({inner_select})"
    carried = f"{token_col}{extra_cols}"
    acc: list[str] = []
    for name, expr in porter_layers(token_col):
        prev = ", ".join(acc)
        prev = (prev + ", ") if prev else ""
        sql = f"(SELECT {carried}, {prev}{expr} AS {name} FROM {sql} pstep_{name})"
        acc.append(name)
    return f"SELECT {carried}, stem FROM {sql} pfinal"

