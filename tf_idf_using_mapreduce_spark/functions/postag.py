"""Rule-based POS tagging (SURVEY.md §2.2 P8/P9).

The reference tags with OpenNLP's pre-trained Universal-Dependencies model
(``POS.java:23-25,36``) — a binary model artifact that is neither public-API
reproducible in SQL nor shippable here. The engine therefore defines a
DETERMINISTIC rule tagger over the UD tagset (closed-class lexicons + suffix
heuristics + NOUN default), expressed as ONE portable SQL CASE usable verbatim
by Spark (``F.expr`` → whole-stage codegen) and the DuckDB oracle — counting
semantics (A1/A2) are what the correctness contract checks, not tag-inventory
fidelity (SURVEY.md §7.3 "POS tagset"). The Spark side feeds the same CASE a
once-projected ``lower(token)`` column (:func:`with_pos_tag`); the oracles
spell ``lower(token)`` inline.

A ``mapInPandas`` stripes variant re-implements the same rules in Python
(shared lexicon constants) to reproduce the reference's pairs-vs-stripes
design-pattern comparison (``POSstripes.java:35-49``) and to serve as the
documented extension point for plugging a real model (lazy per-executor init,
SURVEY.md §2.10).

Tokenization mirrors OpenNLP ``SimpleTokenizer`` (char-class runs:
``POS.java:35``): letter runs, digit runs, and single punctuation characters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# SimpleTokenizer-style: letter runs | digit runs | single other non-space char.
# (No backslash classes: Spark SQL string literals escape '\', DuckDB's don't.)
POS_TOKENIZE_SQL = "regexp_extract_all({col}, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])', 1)"

LEXICONS: dict[str, tuple[str, ...]] = {
    "DET": ("the", "a", "an", "this", "that", "these", "those", "every", "each",
            "either", "neither", "some", "any", "no", "all", "both"),
    "PRON": ("i", "you", "he", "she", "it", "we", "they", "me", "him", "her",
             "us", "them", "who", "whom", "which", "what", "mine", "yours",
             "his", "hers", "ours", "theirs", "myself", "yourself", "himself",
             "herself", "itself", "ourselves", "themselves"),
    "AUX": ("am", "is", "are", "was", "were", "be", "been", "being", "do",
            "does", "did", "have", "has", "had", "will", "would", "shall",
            "should", "can", "could", "may", "might", "must"),
    "ADP": ("of", "in", "on", "at", "by", "for", "with", "about", "against",
            "between", "into", "through", "during", "before", "after", "above",
            "below", "to", "from", "up", "down", "under", "over", "off", "near"),
    "CCONJ": ("and", "or", "but", "nor", "so", "yet"),
    "SCONJ": ("if", "because", "while", "although", "though", "unless",
              "since", "whether"),
    "PART": ("not",),
    "ADV": ("very", "too", "quite", "rather", "almost", "always", "never",
            "often", "sometimes", "here", "there", "now", "then", "again",
            "also", "just", "only", "well"),
    "ADJ": ("fast", "slow", "small", "big", "good", "bad", "new", "old",
            "high", "low", "large", "great"),
}

# Suffix heuristics, applied after lexicons, longest-first within each tag.
_ADV_SUFFIXES = ("ly",)
_VERB_SUFFIXES = ("ing", "ed", "ize", "ise")
_ADJ_SUFFIXES = ("able", "ible", "less", "ish", "ous", "ful", "ive", "ic")


def _in_list(expr: str, words: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"{expr} IN ({quoted})"


def pos_tag_sql(token_col: str = "token", lower_col: str | None = None) -> str:
    """Portable SQL CASE mapping a token to its UD tag.

    The lexicon and suffix rules test the lowercased token, ~35 times per
    token. ``lower_col`` names a column that already holds
    ``lower(token_col)``, so a caller that projects it once
    (:func:`with_pos_tag`) lowercases each token once; without it the CASE
    spells ``lower(token_col)`` inline (the oracles' text)."""
    t = lower_col or f"lower({token_col})"
    whens: list[str] = []
    # NUM: all digits (translate deletes digits; empty remainder = numeric).
    # length > 0 guard: translate('') = '' would tag the EMPTY token NUM
    # while the Python twin's `token and all(...)` falls through to PUNCT —
    # the tokenizer never emits '' but the twins must agree on it (ADVICE r9)
    whens.append(
        f"WHEN length({token_col}) > 0 AND "
        f"translate({token_col}, '0123456789', '') = '' THEN 'NUM'"
    )
    # PUNCT: no ASCII letters and no digits — tested on the ORIGINAL token
    # with both-case letters, never on lower(). Two parity breaks hide in a
    # lower()-based test: (a) the round-8 advisor's case — comparing
    # translate(lower(tok)) to the original token sends case-changing
    # non-ASCII letters ('É', 'Ж') to NOUN in SQL but PUNCT in Python; (b)
    # engines disagree on lower() itself for full-case-mapping chars ('İ'
    # U+0130: DuckDB → 'i' ⇒ PRON, Java/Python → 'i'+U+0307 ⇒ NOUN).
    # Gating on the raw token removes lower() from the decision, and every
    # token that survives the gate contains an ASCII alnum — the tokenizer's
    # letter runs are pure [A-Za-z]+, so such tokens cannot also carry a
    # case-unstable char, making the later lower()ed lexicon tests safe.
    whens.append(
        "WHEN translate("
        f"{token_col}, "
        "'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789', '') "
        f"= {token_col} THEN 'PUNCT'"
    )
    for tag, words in LEXICONS.items():
        whens.append(f"WHEN {_in_list(t, words)} THEN '{tag}'")
    for suf in _ADV_SUFFIXES:
        whens.append(f"WHEN length({t}) > {len(suf) + 2} AND right({t}, {len(suf)}) = '{suf}' THEN 'ADV'")
    for suf in _VERB_SUFFIXES:
        whens.append(f"WHEN length({t}) > {len(suf) + 1} AND right({t}, {len(suf)}) = '{suf}' THEN 'VERB'")
    for suf in _ADJ_SUFFIXES:
        whens.append(f"WHEN length({t}) > {len(suf) + 1} AND right({t}, {len(suf)}) = '{suf}' THEN 'ADJ'")
    return "CASE " + " ".join(whens) + " ELSE 'NOUN' END"


def pos_tag_py(token: str) -> str:
    """Same rules in Python (used by the mapInPandas stripes variant and tests)."""
    # ASCII-explicit like the SQL translate test: str.isdigit() accepts
    # Unicode digits ('٣', '²') the SQL rule sends to PUNCT, not NUM
    if token and all(c in "0123456789" for c in token):
        return "NUM"
    # ORIGINAL token, mirroring the SQL gate (lower() differs across engines
    # on full-case-mapping chars like 'İ'; ASCII alnum is case-closed, so
    # checking token vs t is equivalent for ASCII and engine-stable beyond)
    if not any(c.isalnum() and c.isascii() for c in token):
        return "PUNCT"
    t = token.lower()
    for tag, words in LEXICONS.items():
        if t in words:
            return tag
    for suf in _ADV_SUFFIXES:
        if len(t) > len(suf) + 2 and t.endswith(suf):
            return "ADV"
    for suf in _VERB_SUFFIXES:
        if len(t) > len(suf) + 1 and t.endswith(suf):
            return "VERB"
    for suf in _ADJ_SUFFIXES:
        if len(t) > len(suf) + 1 and t.endswith(suf):
            return "ADJ"
    return "NOUN"


def explode_pos_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    arr = F.expr(POS_TOKENIZE_SQL.format(col=text_col))
    return df.select(F.explode(arr).alias("token"))


def with_pos_tag(df: DataFrame, token_col: str = "token", out_col: str = "tag") -> DataFrame:
    """``df`` plus the UD tag of ``token_col``: ``lower(token)`` is projected
    once and the CASE reads that column. Catalyst keeps the projection, since
    collapsing it would repeat a non-trivial expression."""
    lowered = f"_lower_{token_col}"
    return (
        df.withColumn(lowered, F.lower(token_col))
        .withColumn(out_col, F.expr(pos_tag_sql(token_col, lowered)))
        .drop(lowered)
    )


# --------------------------------------------------------------------------- #
# Penn-Treebank-style ruleset — the SECOND in-repo tagger the model-swap seam
# carries (round-8 verdict item): a genuinely DIFFERENT tag inventory, not
# the UD rules re-keyed. Differences that change the partition of tokens:
# ADP+SCONJ merge into IN (except 'to' → TO); NOUN splits NN/NNS on plural
# form; AUX splits into MD (modals) vs inflected verb tags VBZ/VBP/VBD/VB/
# VBN/VBG; pronouns split PRP/PRP$/WP; punctuation gets Penn's ','/'.'/':'
# tags with SYM as the residual. Same deterministic
# lexicon-then-suffix-then-default shape, mirrored EXACTLY between the SQL
# CASE (Spark + DuckDB oracle) and the Python twin the seam loads.
# --------------------------------------------------------------------------- #

PENN_MODALS = ("will", "would", "shall", "should", "can", "could", "may",
               "might", "must")
_PENN_AUX_MAP: dict[str, tuple[str, ...]] = {
    "VBZ": ("is", "does", "has"),
    "VBP": ("am", "are", "do", "have"),
    "VBD": ("was", "were", "did", "had"),
    "VB": ("be",),
    "VBN": ("been",),
    "VBG": ("being",),
}
_PENN_PRP = ("i", "you", "he", "she", "it", "we", "they", "me", "him", "her",
             "us", "them", "myself", "yourself", "himself", "herself",
             "itself", "ourselves", "themselves")
_PENN_PRP_POSS = ("mine", "yours", "his", "hers", "ours", "theirs")
_PENN_WP = ("who", "whom", "which", "what")
# Penn merges prepositions and subordinating conjunctions into IN — built
# from the UD lexicons so the two rulesets provably share their closed-class
# vocabulary while partitioning it differently ('to' is excluded: Penn TO)
PENN_IN = tuple(w for w in LEXICONS["ADP"] if w != "to") + LEXICONS["SCONJ"]


def penn_tag_sql(token_col: str = "token") -> str:
    """Portable SQL CASE mapping a token to its Penn-style tag."""
    t = f"lower({token_col})"
    whens: list[str] = []
    # length > 0: same empty-token guard as pos_tag_sql's NUM rule
    whens.append(
        f"WHEN length({token_col}) > 0 AND "
        f"translate({token_col}, '0123456789', '') = '' THEN 'CD'"
    )
    # tested on the ORIGINAL token with both-case letters — same
    # lower()-free parity rule as pos_tag_sql (see the comment there); the
    # inner CASE's ','/'.'/':' literals are pure ASCII, so testing them
    # against the original token is case-stable
    whens.append(
        "WHEN translate("
        f"{token_col}, "
        "'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789', '') "
        f"= {token_col} THEN "
        f"CASE WHEN {token_col} = ',' THEN ',' "
        f"WHEN {token_col} IN ('.', '!', '?') THEN '.' "
        f"WHEN {token_col} IN (':', ';') THEN ':' "
        "ELSE 'SYM' END"
    )
    whens.append(f"WHEN {t} = 'to' THEN 'TO'")
    whens.append(f"WHEN {_in_list(t, PENN_MODALS)} THEN 'MD'")
    for tag, words in _PENN_AUX_MAP.items():
        whens.append(f"WHEN {_in_list(t, words)} THEN '{tag}'")
    whens.append(f"WHEN {_in_list(t, LEXICONS['DET'])} THEN 'DT'")
    whens.append(f"WHEN {_in_list(t, _PENN_PRP)} THEN 'PRP'")
    whens.append(f"WHEN {_in_list(t, _PENN_PRP_POSS)} THEN 'PRP$'")
    whens.append(f"WHEN {_in_list(t, _PENN_WP)} THEN 'WP'")
    whens.append(f"WHEN {_in_list(t, PENN_IN)} THEN 'IN'")
    whens.append(f"WHEN {_in_list(t, LEXICONS['CCONJ'])} THEN 'CC'")
    whens.append(f"WHEN {t} = 'not' THEN 'RB'")
    whens.append(f"WHEN {_in_list(t, LEXICONS['ADV'])} THEN 'RB'")
    whens.append(f"WHEN {_in_list(t, LEXICONS['ADJ'])} THEN 'JJ'")
    for suf in _ADV_SUFFIXES:
        whens.append(f"WHEN length({t}) > {len(suf) + 2} AND right({t}, {len(suf)}) = '{suf}' THEN 'RB'")
    whens.append(f"WHEN length({t}) > 4 AND right({t}, 3) = 'ing' THEN 'VBG'")
    whens.append(f"WHEN length({t}) > 3 AND right({t}, 2) = 'ed' THEN 'VBD'")
    whens.append(f"WHEN length({t}) > 4 AND (right({t}, 3) = 'ize' OR right({t}, 3) = 'ise') THEN 'VB'")
    for suf in _ADJ_SUFFIXES:
        whens.append(f"WHEN length({t}) > {len(suf) + 1} AND right({t}, {len(suf)}) = '{suf}' THEN 'JJ'")
    whens.append(
        f"WHEN length({t}) > 3 AND right({t}, 1) = 's' AND right({t}, 2) <> 'ss' THEN 'NNS'"
    )
    return "CASE " + " ".join(whens) + " ELSE 'NN' END"


def penn_tag_py(token: str) -> str:
    """The SQL Penn CASE mirrored rule-for-rule in Python — what
    ``tagger_factory`` loads on the executor (tests pin SQL≡Python)."""
    if token and all(c in "0123456789" for c in token):
        return "CD"
    # ORIGINAL token, lower()-free like the SQL gate (see pos_tag_py)
    if not any(c.isalnum() and c.isascii() for c in token):
        if token == ",":
            return ","
        if token in (".", "!", "?"):
            return "."
        if token in (":", ";"):
            return ":"
        return "SYM"
    t = token.lower()
    if t == "to":
        return "TO"
    if t in PENN_MODALS:
        return "MD"
    for tag, words in _PENN_AUX_MAP.items():
        if t in words:
            return tag
    if t in LEXICONS["DET"]:
        return "DT"
    if t in _PENN_PRP:
        return "PRP"
    if t in _PENN_PRP_POSS:
        return "PRP$"
    if t in _PENN_WP:
        return "WP"
    if t in PENN_IN:
        return "IN"
    if t in LEXICONS["CCONJ"]:
        return "CC"
    if t == "not":
        return "RB"
    if t in LEXICONS["ADV"]:
        return "RB"
    if t in LEXICONS["ADJ"]:
        return "JJ"
    for suf in _ADV_SUFFIXES:
        if len(t) > len(suf) + 2 and t.endswith(suf):
            return "RB"
    if len(t) > 4 and t.endswith("ing"):
        return "VBG"
    if len(t) > 3 and t.endswith("ed"):
        return "VBD"
    if len(t) > 4 and (t.endswith("ize") or t.endswith("ise")):
        return "VB"
    for suf in _ADJ_SUFFIXES:
        if len(t) > len(suf) + 1 and t.endswith(suf):
            return "JJ"
    if len(t) > 3 and t.endswith("s") and not t.endswith("ss"):
        return "NNS"
    return "NN"
