"""Scalar/aggregate parity batches, round 7.

Exact-name implementations of reference-registered functions that were
still missing after the round-6 batches:

* Spark-compatible aliases the reference registers for its ByteDance Spark
  dialect (``registerFunction(...CaseInsensitive)`` sites: array_*,
  concat_ws, lpad/rpad, map_keys/..., to_date, unix_timestamp, oct/ord),
* MySQL wrapper names (DATE/DAY/HOUR/..., INSERT=overlay, TRUNCATE),
* date helpers (makeDate/makeDateTime, subtractHours/Minutes/Seconds,
  toTime anchored at 1970-01-02 like DateTimeTransforms.h ToTimeImpl,
  fromUnixTimestampInJodaSyntax, date_format_hive),
* string/bit tail (bit_count, bitRotateRight, unbin, log_with_base,
  parseTimeDelta, format_bytes, formatReadableDecimalSize),
* URL tail (netloc, cutWWW, extractURLParameters/-Names),
* Unicode (normalizeUTF8NFC/NFD/NFKC/NFKD via unicodedata — the exact
  Unicode normal forms, same as the reference's ICU call;
  unicodeToUTF8/unicodeToUTF8All per unicodeToUTF8.cpp prefix semantics;
  convertCharset via Python codecs),
* NLP (stem = Porter algorithm — public spec; the reference uses
  Snowball's english stemmer which is Porter2, so some words differ:
  DOCUMENTED DEVIATION.  lemmatize/synonyms raise exactly like the
  reference does when no dictionaries are configured
  (FunctionsLanguageData).  detectLanguage*/detectCharset/detectTonality/
  detectProgrammingLanguage use embedded lightweight heuristics where the
  reference loads trained models — same signatures and output types,
  DOCUMENTED VALUE DEVIATION),
* type introspection (toTypeName/toColumnTypeName via typeof -> CH names),
* aggregates: sumMetric (SessionSplit.h:678), deltaSum, aggThrow,
  groupArrayInsertAt, kll alias, V2/legacy bitmap-name aliases.

All entries use setdefault; nothing already registered is clobbered.
"""

from __future__ import annotations

import math
import re

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def _lit(x):
    return x if isinstance(x, Column) else F.lit(x)


def _str(x) -> str:
    return str(x).strip("'\"")


# ---------------------------------------------------------------------------
# Porter stemmer (public algorithm, Porter 1980) — vectorized pandas UDF
# ---------------------------------------------------------------------------

_VOWELS = "aeiou"


def _porter_measure(s: str) -> int:
    # number of VC sequences in the word
    m, prev_v = 0, False
    for i, c in enumerate(s):
        v = c in _VOWELS or (c == "y" and i > 0 and s[i - 1] not in _VOWELS)
        if prev_v and not v:
            m += 1
        prev_v = v
    return m


def _porter_has_vowel(s: str) -> bool:
    return any(
        c in _VOWELS or (c == "y" and i > 0 and s[i - 1] not in _VOWELS)
        for i, c in enumerate(s)
    )


def _porter_cvc(s: str) -> bool:
    if len(s) < 3:
        return False
    c1, v, c2 = s[-3], s[-2], s[-1]
    return (
        c1 not in _VOWELS
        and (v in _VOWELS or (v == "y" and c1 not in _VOWELS))
        and c2 not in _VOWELS
        and c2 not in "wxy"
    )


def _porter_stem(w: str) -> str:
    if w is None or len(w) <= 2:
        return w
    w = w.lower()

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # step 1b
    flag = False
    if w.endswith("eed"):
        if _porter_measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and _porter_has_vowel(w[:-2]):
        w, flag = w[:-2], True
    elif w.endswith("ing") and _porter_has_vowel(w[:-3]):
        w, flag = w[:-3], True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif (
            len(w) >= 2 and w[-1] == w[-2]
            and w[-1] not in _VOWELS and w[-1] not in "lsz"
        ):
            w = w[:-1]
        elif _porter_measure(w) == 1 and _porter_cvc(w):
            w += "e"

    # step 1c
    if w.endswith("y") and _porter_has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2
    for suf, rep in (
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
        ("anci", "ance"), ("izer", "ize"), ("abli", "able"), ("alli", "al"),
        ("entli", "ent"), ("eli", "e"), ("ousli", "ous"), ("ization", "ize"),
        ("ation", "ate"), ("ator", "ate"), ("alism", "al"),
        ("iveness", "ive"), ("fulness", "ful"), ("ousness", "ous"),
        ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ):
        if w.endswith(suf):
            if _porter_measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # step 3
    for suf, rep in (
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ):
        if w.endswith(suf):
            if _porter_measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # step 4
    for suf in (
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if suf == "ion" and not stem.endswith(("s", "t")):
                break
            if _porter_measure(stem) > 1:
                w = stem
            break

    # step 5a
    if w.endswith("e"):
        m = _porter_measure(w[:-1])
        if m > 1 or (m == 1 and not _porter_cvc(w[:-1])):
            w = w[:-1]
    # step 5b
    if w.endswith("ll") and _porter_measure(w) > 1:
        w = w[:-1]
    return w


def _stem(lang, col) -> Column:
    lang_s = _str(lang) if not isinstance(lang, Column) else "en"
    if lang_s not in ("en", "english"):
        raise ValueError(
            f"stem: only the english Porter stemmer is built in (got "
            f"{lang_s!r}); the reference loads Snowball stemmers per "
            f"language"
        )

    @F.pandas_udf("string")
    def k(s: pd.Series) -> pd.Series:
        return s.map(lambda w: None if w is None else _porter_stem(w))

    return k(_lit(col))


# ---------------------------------------------------------------------------
# Unicode / charset
# ---------------------------------------------------------------------------

def _map_udf(one, return_type: str):
    """An Arrow-batched UDF applying ``one`` to every non-NULL value (NULL
    in, NULL out).  The Column API and ``sql_kernels`` share these."""

    @F.pandas_udf(return_type)
    def k(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else one(v))

    return k


def _normalize_kernel(form: str):
    import unicodedata

    return _map_udf(lambda v: unicodedata.normalize(form, v), "string")


def _normalize_utf8(form: str):
    def impl(col) -> Column:
        return _normalize_kernel(form)(_lit(col))

    return impl


_UNI_RE = re.compile(r"\\u([0-9a-fA-F]{4})")


def _unicode_all(v: str) -> str:
    return _UNI_RE.sub(lambda m: chr(int(m.group(1), 16)), v)


def _unicode_leading(v: str) -> str:
    # the non-All form only decodes the LEADING run of escapes and leaves
    # the tail verbatim
    out = []
    i = 0
    while i + 6 <= len(v):
        m = _UNI_RE.match(v, i)
        if not m:
            break
        out.append(chr(int(m.group(1), 16)))
        i = m.end()
    return "".join(out) + v[i:]


def _unicode_to_utf8(col, parse_all: bool = False) -> Column:
    # unicodeToUTF8.cpp: decode \uXXXX escapes
    one = _unicode_all if parse_all else _unicode_leading
    return _map_udf(one, "string")(_lit(col))


def _convert_charset(col, frm, to) -> Column:
    # convertCharset(s, from, to): this engine's strings are Unicode text
    # (not raw bytes like the reference), so the faithful subset is:
    # re-encode into the target charset and surface what survives — data
    # representable in `to` round-trips exactly; the rest is replaced,
    # mirroring iconv//TRANSLIT behavior.  DOCUMENTED DEVIATION for
    # byte-level charset laundering.
    f_cs, t_cs = _str(frm), _str(to)
    import codecs

    for cs in (f_cs, t_cs):
        codecs.lookup(cs)  # raise early on unknown charsets, like CH

    @F.pandas_udf("string")
    def k(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None if v is None
            else v.encode(t_cs, "replace").decode(t_cs, "replace")
        )

    return k(_lit(col))


# ---------------------------------------------------------------------------
# NLP heuristics (reference: model-backed; ours: embedded heuristics with
# the same signatures — DOCUMENTED VALUE DEVIATION) and CH-parity raises
# ---------------------------------------------------------------------------

def _nlp_unconfigured(name: str):
    def impl(*_args, **_kw):
        # exactly the reference's behavior when no dictionaries are
        # configured (FunctionsLanguageData: lemmatize/synonyms need
        # server-side extension files)
        raise ValueError(
            f"{name}: no dictionaries are configured for this session "
            f"(the reference requires lemmatizer/synonym extension files)"
        )

    return impl


def _charset_of(v: str) -> str:
    try:
        v.encode("ascii")
        return "US-ASCII"
    except UnicodeEncodeError:
        return "UTF-8"


def _detect_charset(col) -> Column:
    return _map_udf(_charset_of, "string")(_lit(col))


_TONE_POS = frozenset(
    "good great excellent love happy best wonderful amazing nice perfect "
    "awesome fantastic enjoy beautiful win success improve like".split()
)
_TONE_NEG = frozenset(
    "bad terrible hate awful worst horrible poor fail sad angry wrong "
    "broken ugly lose problem annoy disappoint".split()
)


def _tonality_of(v: str) -> float:
    # reference returns Float32 in [-1, 1] from a trained frequency model;
    # this embedded word-list heuristic keeps the contract
    toks = re.findall(r"[a-z']+", v.lower())
    if not toks:
        return 0.0
    score = sum((t in _TONE_POS) - (t in _TONE_NEG) for t in toks)
    return max(-1.0, min(1.0, score / max(len(toks), 1) * 5.0))


def _detect_tonality(col) -> Column:
    return _map_udf(_tonality_of, "double")(_lit(col))


_PROG_SIGS = [
    ("python", ("def ", "import ", "elif", "self.", "lambda ", "print(")),
    ("c++", ("#include", "std::", "template<", "nullptr", "::")),
    ("java", ("public class", "void ", "extends ", "System.out", "final ")),
    ("javascript", ("function ", "=>", "const ", "var ", "console.log")),
    ("sql", ("select ", "from ", "where ", "group by", "insert into")),
    ("go", ("func ", "package ", ":=", "chan ", "go ")),
    ("rust", ("fn ", "let mut", "impl ", "-> ", "::<")),
]


def _programming_language_of(v: str) -> str:
    low = v.lower()
    best, hits = "undefined", 0
    for lang, sigs in _PROG_SIGS:
        n = sum(low.count(sig.lower()) for sig in sigs)
        if n > hits:
            best, hits = lang, n
    return best


def _detect_programming_language(col) -> Column:
    return _map_udf(_programming_language_of, "string")(_lit(col))


def _detect_language(col, mode: str = "one") -> Column:
    # the engine's marker-profile heuristic (llm/text.py LANG_MARKERS)
    # as a Column expression; 'un' when no marker hits — the reference
    # uses trained models (DOCUMENTED VALUE DEVIATION)
    from byconity_spark.llm.text import LANG_MARKERS, tokenize

    toks = tokenize(_lit(col))

    def _mk(markers):
        return lambda w: w.isin(markers)  # single-arg lambda (see text.py)

    if mode == "mixed":
        scores = {
            lang: F.size(F.filter(toks, _mk(m)))
            for lang, m in LANG_MARKERS.items()
        }
        s_en, s_es = scores["en"], scores["es"]
        s_de, s_fr = scores["de"], scores["fr"]
        total = s_en + s_es + s_de + s_fr
        t = F.when(total > 0, total.cast("double"))
        return F.create_map(
            F.lit("en"), s_en / t, F.lit("es"), s_es / t,
            F.lit("de"), s_de / t, F.lit("fr"), s_fr / t,
        )

    # argmax mode: the four interpreted filter(isin) HOF passes dominated
    # the whole fn_round7 projection (0.88 s of its 2.8 s warm at 5k docs);
    # tokens stay JVM-computed (identical tokenize semantics), only the
    # set-membership counting and the same >=-chain argmax run in one
    # Arrow-batched kernel.  NULL text -> NULL tokens -> 'un', exactly the
    # old when(total > 0, ...).otherwise('un') fallthrough.
    sets = {lang: frozenset(m) for lang, m in LANG_MARKERS.items()}

    @F.pandas_udf("string")
    def k(token_arrays: pd.Series) -> pd.Series:
        en, es, de, fr = sets["en"], sets["es"], sets["de"], sets["fr"]

        def one(tk):
            if tk is None:
                return "un"
            # four INDEPENDENT membership counts, exactly like the four
            # filter() passes (markers can overlap across languages, e.g.
            # 'la' is both es and fr — it must count for both)
            s_en = s_es = s_de = s_fr = 0
            for w in tk:
                if w in en:
                    s_en += 1
                if w in es:
                    s_es += 1
                if w in de:
                    s_de += 1
                if w in fr:
                    s_fr += 1
            if s_en + s_es + s_de + s_fr == 0:
                return "un"
            if s_en >= s_es and s_en >= s_de and s_en >= s_fr:
                return "en"
            if s_es >= s_de and s_es >= s_fr:
                return "es"
            if s_de >= s_fr:
                return "de"
            return "fr"

        return token_arrays.map(one)

    return k(toks)


# ---------------------------------------------------------------------------
# misc scalar helpers
# ---------------------------------------------------------------------------

_TIMEDELTA_UNITS = [
    (r"(?:years?|yr|y)", 365 * 86400),
    (r"(?:months?|mo)", 30.5 * 86400),
    (r"(?:weeks?|w)", 7 * 86400),
    (r"(?:days?|d)", 86400),
    (r"(?:hours?|hr|h)", 3600),
    (r"(?:minutes?|min|m)", 60),
    (r"(?:seconds?|sec|s)", 1),
]


def _time_delta_of(v: str) -> float:
    # parseTimeDelta.cpp: '1 yr 2 mo', '1.5h 30m' ... -> seconds (Float64)
    total, matched = 0.0, False
    for unit_re, secs in _TIMEDELTA_UNITS:
        for m in re.finditer(
            rf"(\d+(?:\.\d+)?)\s*{unit_re}\b", v, re.IGNORECASE
        ):
            total += float(m.group(1)) * secs
            matched = True
    if not matched:
        raise ValueError(f"parseTimeDelta: cannot parse {v!r}")
    return total


def _parse_time_delta(col) -> Column:
    return _map_udf(_time_delta_of, "double")(_lit(col))


def _bit_rotate_right(c, n) -> Column:
    c = _lit(c).cast("long")
    n = _lit(n).cast("int") % 64
    left = F.call_function("shiftrightunsigned", c, n)
    right = F.call_function("shiftleft", c, (F.lit(64) - n) % 64)
    return F.when(n == 0, c).otherwise(left.bitwiseOR(right))


def _unbin(c) -> Column:
    # inverse of bin(): '0110...' bit-string -> the bytes it spells,
    # surfaced as a string (FunctionsCoding unbin)
    @F.pandas_udf("string")
    def k(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            v = v.strip()
            if not v:
                return ""
            pad = (-len(v)) % 8
            bits = "0" * pad + v
            try:
                return bytes(
                    int(bits[i:i + 8], 2) for i in range(0, len(bits), 8)
                ).decode("utf-8", "replace")
            except ValueError:
                return None

        return s.map(one)

    return k(_lit(c))


def _to_time(c) -> Column:
    # DateTimeTransforms.h ToTimeImpl: keep time-of-day, date fixed at
    # 1970-01-02
    c = _lit(c).cast("timestamp")
    secs = F.unix_timestamp(c) % 86400
    return F.timestamp_seconds(F.lit(86400) + secs)


def _extract_url_params(url) -> Column:
    q = F.parse_url(_lit(url), F.lit("QUERY"))
    return F.when(
        q.isNotNull() & (q != ""), F.split(q, "&")
    ).otherwise(F.array().cast("array<string>"))


def _netloc(url) -> Column:
    # netloc.cpp: everything between scheme:// and the first /?#
    u = _lit(url)
    return F.regexp_extract(u, r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/?#]*)",
                            1)


def _to_type_name(c) -> Column:
    # typeof() gives the Spark SQL type; map the common names to CH
    t = F.typeof(_lit(c))
    mapping = [
        ("bigint", "Int64"), ("int", "Int32"), ("smallint", "Int16"),
        ("tinyint", "Int8"), ("double", "Float64"), ("float", "Float32"),
        ("string", "String"), ("boolean", "UInt8"), ("date", "Date"),
        ("timestamp", "DateTime"), ("binary", "String"),
    ]
    out = t
    expr = None
    for spark_t, ch_t in mapping:
        cond = t == spark_t
        expr = F.when(cond, ch_t) if expr is None else expr.when(cond, ch_t)
    return expr.otherwise(out)


def _format_readable_decimal_size(c) -> Column:
    # formatReadableDecimalSize.cpp: powers of 1000, 2 decimals
    v = _lit(c).cast("double")
    k = F.floor(
        F.when(F.abs(v) < 1000, F.lit(0.0))
        .otherwise(F.log(1000.0, F.abs(v)))
    ).cast("int")
    k = F.least(k, F.lit(6))
    scaled = v / F.pow(F.lit(1000.0), k.cast("double"))
    unit = F.element_at(
        F.array(*[F.lit(u) for u in
                  (" B", " KB", " MB", " GB", " TB", " PB", " EB")]),
        k + 1,
    )
    return F.concat(F.format_number(scaled, 2), unit)


# ---------------------------------------------------------------------------
# install
# ---------------------------------------------------------------------------

def install(SCALAR: dict, AGG: dict) -> None:
    add = SCALAR.setdefault

    # ---- Spark-dialect aliases (reference registers these names for its
    # Spark-compat mode; they map 1:1 onto Spark builtins here)
    add("array_distinct", F.array_distinct)
    add("array_intersect", F.array_intersect)
    add("array_join", lambda a, d, *nr: F.array_join(
        a, _str(d) if not isinstance(d, Column) else d,
        *( [_str(nr[0])] if nr else [] )))
    add("array_max", F.array_max)
    add("array_min", F.array_min)
    add("array_position", lambda a, v: F.array_position(a, v))
    add("concat_ws", lambda sep, *cs: F.concat_ws(_str(sep), *cs))
    add("concatws", SCALAR["concat_ws"])
    add("lpad", lambda c, n, p=" ": F.lpad(_lit(c), int(n), _str(p)))
    add("rpad", lambda c, n, p=" ": F.rpad(_lit(c), int(n), _str(p)))
    add("map_keys", F.map_keys)
    add("map_values", F.map_values)
    add("flatten", F.flatten)
    add("size", lambda c: F.size(c).cast("int"))
    add("slice", lambda a, s, l=None: F.slice(
        a, _lit(s).cast("int"),
        _lit(l).cast("int") if l is not None else F.size(a)))
    add("shuffle", F.shuffle)
    add("arrayShuffle", F.shuffle)
    add("to_date", lambda c, *fmt: F.to_date(
        _lit(c), *( [_str(fmt[0])] if fmt else [] )))
    add("unix_timestamp", lambda *a: F.unix_timestamp(
        *[_lit(x) if i == 0 else _str(x) for i, x in enumerate(a)]
    ) if a else F.unix_timestamp())
    add("week", lambda c, *m: SCALAR["toWeek"](c, *m))
    add("weekofyear", lambda c: F.weekofyear(_lit(c)).cast("long"))
    add("oct", lambda c: F.conv(_lit(c).cast("string"), 10, 8))
    add("ord", lambda c: F.ascii(_lit(c)).cast("long"))
    add("split_to_map", lambda c, d1, d2: F.str_to_map(
        _lit(c), F.lit(_str(d1)), F.lit(_str(d2))))
    add("map_from_arrays", F.map_from_arrays)
    add("date_format_hive", lambda c, fmt: F.date_format(
        _lit(c), _str(fmt)))
    add("hmod", F.pmod)
    add("hiveModulo", F.pmod)
    add("timestamp", lambda c: _lit(c).cast("timestamp"))

    # ---- MySQL wrapper names (IFunctionMySql registrations)
    add("DATE", lambda c: _lit(c).cast("date"))
    add("DAY", lambda c: F.dayofmonth(_lit(c)).cast("long"))
    add("HOUR", lambda c: F.hour(_lit(c)).cast("long"))
    add("MINUTE", lambda c: F.minute(_lit(c)).cast("long"))
    add("MONTH", lambda c: F.month(_lit(c)).cast("long"))
    add("QUARTER", lambda c: F.quarter(_lit(c)).cast("long"))
    add("SECOND", lambda c: F.second(_lit(c)).cast("long"))
    add("YEAR", lambda c: F.year(_lit(c)).cast("long"))
    add("CHAR_LENGTH", lambda c: F.length(_lit(c)).cast("long"))
    add("CRC32", SCALAR.get("crc32", F.crc32))
    if "generateUUIDv4" in SCALAR:
        add("UUID", SCALAR["generateUUIDv4"])
    add("insert", lambda s, pos, ln, repl: F.overlay(
        _lit(s), _lit(repl), _lit(pos).cast("int"), _lit(ln).cast("int")))
    if "trunc" in SCALAR:
        add("truncate", SCALAR["trunc"])
    add("is_uuid", lambda c: _lit(c).rlike(
        "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
        "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"))
    if "toUUIDOrNull" in SCALAR:
        add("toUUID", SCALAR["toUUIDOrNull"])

    # ---- date tail
    add("makeDate", lambda y, m, d: F.make_date(
        _lit(y).cast("int"), _lit(m).cast("int"), _lit(d).cast("int")))
    add("makeDateTime", lambda y, mo, d, h, mi, s, *tz: F.make_timestamp(
        _lit(y).cast("int"), _lit(mo).cast("int"), _lit(d).cast("int"),
        _lit(h).cast("int"), _lit(mi).cast("int"), _lit(s).cast("int"),
        *( [F.lit(_str(tz[0]))] if tz else [] )))
    add("subtractHours",
        lambda c, n: _lit(c) - F.expr(f"INTERVAL {int(n)} HOUR"))
    add("subtractMinutes",
        lambda c, n: _lit(c) - F.expr(f"INTERVAL {int(n)} MINUTE"))
    add("subtractSeconds",
        lambda c, n: _lit(c) - F.expr(f"INTERVAL {int(n)} SECOND"))
    add("toTime", _to_time)
    add("toYearWeek", SCALAR.get("yearweek", lambda c: F.concat(
        F.year(_lit(c)), F.weekofyear(_lit(c)))))
    add("fromUnixTimestampInJodaSyntax", lambda ts, fmt: F.date_format(
        F.timestamp_seconds(_lit(ts).cast("long")), _str(fmt)))
    if "dateAdd" in SCALAR:
        add("date_add", SCALAR["dateAdd"])
    if "dateSub" in SCALAR:
        add("date_sub", SCALAR["dateSub"])

    # ---- bits / numbers / misc
    add("bit_count", lambda c: F.bit_count(_lit(c)).cast("long"))
    add("bitRotateRight", _bit_rotate_right)
    add("unbin", _unbin)
    add("log_with_base", lambda b, x: F.log(
        float(b) if not isinstance(b, Column) else b, _lit(x)))
    add("parseTimeDelta", _parse_time_delta)
    if "formatReadableSize" in SCALAR:
        add("format_bytes", SCALAR["formatReadableSize"])
    add("formatReadableDecimalSize", _format_readable_decimal_size)
    add("isZeroOrNull", lambda c: _lit(c).isNull() | (_lit(c) == 0))
    # Spark columns are always nullable at the engine level; the CH
    # type-level probe degenerates to a constant here (DOCUMENTED)
    add("isNullable", lambda c: F.lit(True))
    if "identity" in SCALAR:
        add("materialize", SCALAR["identity"])
    else:
        add("materialize", lambda c: _lit(c))
    add("toTypeName", _to_type_name)
    add("toColumnTypeName", _to_type_name)
    from pyspark.sql import Window as _Win

    add("rowNumberInAllBlocks", lambda: (
        F.row_number().over(_Win.orderBy(F.monotonically_increasing_id()))
        - 1
    ).cast("long"))
    if "farmFingerprint64" in SCALAR:
        add("farmHash64", SCALAR["farmFingerprint64"])
    if "gccMurmurHash" in SCALAR:
        add("gccMurmurHashV2", SCALAR["gccMurmurHash"])

    # ---- URL tail
    add("netloc", _netloc)
    add("cutWWW", lambda u: F.regexp_replace(
        _lit(u), r"(^|//(?:[^/@?#]*@)?)www\.", "$1"))
    add("extractURLParameters", _extract_url_params)
    add("extractURLParameterNames", lambda u: F.transform(
        _extract_url_params(u),
        lambda kv: F.split(kv, "=").getItem(0)))

    # ---- unicode / charset
    add("normalizeUTF8NFC", _normalize_utf8("NFC"))
    add("normalizeUTF8NFD", _normalize_utf8("NFD"))
    add("normalizeUTF8NFKC", _normalize_utf8("NFKC"))
    add("normalizeUTF8NFKD", _normalize_utf8("NFKD"))
    add("unicodeToUTF8", lambda c: _unicode_to_utf8(c, parse_all=False))
    add("unicodeToUTF8All", lambda c: _unicode_to_utf8(c, parse_all=True))
    add("convertCharset", _convert_charset)

    # ---- NLP
    add("stem", _stem)
    add("lemmatize", _nlp_unconfigured("lemmatize"))
    add("synonyms", _nlp_unconfigured("synonyms"))
    add("ip_to_geo", _nlp_unconfigured("ip_to_geo"))
    add("detectCharset", _detect_charset)
    add("detectTonality", _detect_tonality)
    add("detectProgrammingLanguage", _detect_programming_language)
    add("detectLanguage", lambda c: _detect_language(c))
    add("detectLanguageUnknown", lambda c: _detect_language(c, "unknown"))
    add("detectLanguageMixed", lambda c: _detect_language(c, "mixed"))

    # ---- aggregates
    agg_add = AGG.setdefault

    def _sum_metric(*args):
        # AggregateFunctionSessionSplit.h:678 SumMetricData — input tuple
        # (duration, depth, jump), output (session_cnt, total_dur,
        # total_depth, total_jump).  Pass the tuple unpacked.
        if len(args) != 3:
            raise ValueError(
                "sumMetric expects the (duration, depth, jump) tuple "
                "unpacked into three columns on this engine")
        dur, depth, jmp = (_lit(a) for a in args)
        return F.struct(
            F.count(dur).alias("session_cnt"),
            F.sum(dur.cast("long")).alias("total_dur"),
            F.sum(depth.cast("long")).alias("total_depth"),
            F.sum(jmp.cast("long")).alias("total_jump"),
        )

    agg_add("sumMetric", _sum_metric)

    def _delta_sum(c):
        # AggregateFunctionDeltaSum: sum of positive deltas between
        # consecutive values in arrival order.  Arrival order is
        # partition-dependent — EXACTLY like the reference (its result
        # also depends on block order).
        lst = F.collect_list(_lit(c).cast("double"))
        return F.aggregate(
            F.zip_with(
                lst, F.slice(F.concat(F.array(F.lit(None).cast("double")),
                                      lst), 1, F.size(lst)),
                lambda cur, prev: F.when(
                    prev.isNotNull() & (cur > prev), cur - prev
                ).otherwise(F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    agg_add("deltaSum", _delta_sum)

    def _agg_throw(*_args):
        # AggregateFunctionAggThrow.cpp — a test-only function whose whole
        # contract is to throw
        raise RuntimeError(
            "Aggregate function aggThrow has thrown exception successfully")

    agg_add("aggThrow", _agg_throw)

    def _group_array_insert_at(default, size):
        # parametric: groupArrayInsertAt(default, size)(value, pos)
        # (AggregateFunctionGroupArrayInsertAt.h)
        def agg(v, pos):
            pairs = F.collect_list(
                F.struct(_lit(pos).cast("int").alias("p"), _lit(v).alias("v"))
            )
            return F.transform(
                F.sequence(F.lit(0), F.lit(int(size) - 1)),
                lambda i: F.coalesce(
                    F.try_element_at(
                        F.filter(pairs, lambda e: e["p"] == i), F.lit(1)
                    )["v"],
                    _lit(default),
                ),
            )

        return agg

    agg_add("groupArrayInsertAt", _group_array_insert_at)

    if "quantileKll" in AGG:
        agg_add("kll", AGG["quantileKll"])
    # V2 bitmap names: same semantics, different on-disk encoding in the
    # reference (BitMap64 v2 containers) — identical results here
    for v2, base in (
        ("BitmapCountV2", "BitmapCount"),
        ("BitmapExtractV2", "BitmapExtract"),
        ("BitmapMultiCountV2", "BitmapMultiCount"),
        ("BitmapMultiExtractV2", "BitmapMultiExtract"),
    ):
        if base in AGG:
            agg_add(v2, AGG[base])


# ---------------------------------------------------------------------------
# round-7 second pass: IPv6 CIDR tail, running* window forms, typed
# defaults, bitmap constructors
# ---------------------------------------------------------------------------

def _ipv6_cidr_to_range(ip, prefix) -> Column:
    """IPv6CIDRToRange(ipv6_bin, prefix) -> (lower, upper) 16-byte
    binaries (FunctionsCoding IPv6CIDRToRange)."""
    p = int(prefix) if not isinstance(prefix, Column) else None
    if p is None:
        raise ValueError("IPv6CIDRToRange: prefix must be a literal")

    @F.pandas_udf("lower binary, upper binary")
    def k(b: pd.Series) -> pd.DataFrame:
        def rng(v):
            if v is None:
                return None, None
            n = int.from_bytes(bytes(v), "big")
            mask = ((1 << 128) - 1) ^ ((1 << (128 - p)) - 1) if p else 0
            lo = n & mask
            hi = lo | ((1 << (128 - p)) - 1 if p < 128 else 0)
            return lo.to_bytes(16, "big"), hi.to_bytes(16, "big")

        pairs = b.map(rng)
        return pd.DataFrame(
            {"lower": [x[0] for x in pairs], "upper": [x[1] for x in pairs]}
        )

    return k(_lit(ip))


def _cut_ipv6(ip, bytes_v6, bytes_v4) -> Column:
    """cutIPv6(ipv6_bin, bytesToCutV6, bytesToCutV4): zero the trailing
    bytes (fewer for IPv4-mapped addresses) and render as text — the
    anonymization helper from FunctionsCoding."""
    n6 = int(bytes_v6) if not isinstance(bytes_v6, Column) else 0
    n4 = int(bytes_v4) if not isinstance(bytes_v4, Column) else 0

    @F.pandas_udf("string")
    def k(b: pd.Series) -> pd.Series:
        import ipaddress

        def one(v):
            if v is None:
                return None
            raw = bytes(v)
            addr = ipaddress.IPv6Address(raw)
            cut = n4 if addr.ipv4_mapped is not None else n6
            cut = max(0, min(16, cut))
            kept = raw[: 16 - cut] + b"\x00" * cut
            return str(ipaddress.IPv6Address(kept))

        return b.map(one)

    return k(_lit(ip))


_TYPE_DEFAULTS = {
    "Int8": 0, "Int16": 0, "Int32": 0, "Int64": 0, "UInt8": 0, "UInt16": 0,
    "UInt32": 0, "UInt64": 0, "Float32": 0.0, "Float64": 0.0, "String": "",
    "Date": "1970-01-01", "DateTime": "1970-01-01 00:00:00",
}


def _default_value_of_type_name(t) -> Column:
    name = _str(t)
    base = re.sub(r"^Nullable\((.*)\)$", r"\1", name)
    if name.startswith("Nullable"):
        return F.lit(None)
    if base.startswith("Array"):
        return F.array()
    if base not in _TYPE_DEFAULTS:
        raise ValueError(f"defaultValueOfTypeName: unsupported {name!r}")
    v = _TYPE_DEFAULTS[base]
    if base == "Date":
        return F.lit(v).cast("date")
    if base == "DateTime":
        return F.lit(v).cast("timestamp")
    return F.lit(v)


def install2(SCALAR: dict, AGG: dict) -> None:
    add = SCALAR.setdefault
    add("IPv6CIDRToRange", _ipv6_cidr_to_range)
    add("cutIPv6", _cut_ipv6)
    def _try_b58(c):
        # tryBase58Decode: NULL instead of raise (tryBase64Decode pattern)
        @F.pandas_udf("string")
        def k(s: pd.Series) -> pd.Series:
            from byconity_spark.functions.registry import _b58_decode_str

            def one(v):
                if v is None:
                    return None
                try:
                    return _b58_decode_str(v).decode("utf-8", "replace")
                except Exception:
                    return None

            return s.map(one)

        return k(_lit(c))

    add("tryBase58Decode", _try_b58)
    add("defaultValueOfTypeName", _default_value_of_type_name)
    # emptyArrayToSingle: CH fills one typed-default element; without
    # runtime type dispatch this engine fills one NULL element (DOCUMENTED
    # DEVIATION — the length contract, which queries branch on, holds)
    add("emptyArrayToSingle", lambda a: F.when(
        F.size(a) > 0, a
    ).otherwise(F.array(F.try_element_at(a, F.lit(1)))))

    from pyspark.sql import Window as _Win

    def _running_accumulate(v, order_col, partition=None):
        # runningAccumulate(sum-state[, order, partition]): cumulative fold
        # with an explicit order (same documented contract as
        # runningDifference — the reference folds in block order)
        w = (
            _Win.partitionBy(partition) if partition is not None
            else _Win.partitionBy()
        ).orderBy(order_col).rowsBetween(_Win.unboundedPreceding, 0)
        return F.sum(_lit(v)).over(w)

    add("runningAccumulate", _running_accumulate)

    def _running_diff_first(v, order_col, partition=None):
        w = (
            _Win.partitionBy(partition) if partition is not None
            else _Win.partitionBy()
        ).orderBy(order_col)
        v = _lit(v)
        return F.coalesce(v - F.lag(v).over(w), v)

    add("runningDifferenceStartingWithFirstValue", _running_diff_first)

    def _bitmap_build(a):
        from byconity_spark.udafs.bitmaps import bitmap_build

        return bitmap_build(_lit(a))

    add("bitmapBuild", _bitmap_build)
    add("arrayToBitmap", _bitmap_build)


def sql_kernels() -> dict:
    """SQL-registrable pandas UDFs for the kernel-backed round-7 names."""
    @F.pandas_udf("string")
    def stem(lang: pd.Series, w: pd.Series) -> pd.Series:
        bad = set(lang.dropna()) - {"en", "english"}
        if bad:
            raise ValueError(f"stem: unsupported language(s) {sorted(bad)}")
        return w.map(lambda v: None if v is None else _porter_stem(v))

    return {
        "stem": stem,
        **{
            f"normalizeUTF8{form}": _normalize_kernel(form)
            for form in ("NFC", "NFD", "NFKC", "NFKD")
        },
        "parseTimeDelta": _map_udf(_time_delta_of, "double"),
        "detectCharset": _map_udf(_charset_of, "string"),
        "detectTonality": _map_udf(_tonality_of, "double"),
        "detectProgrammingLanguage": _map_udf(_programming_language_of, "string"),
        "unicodeToUTF8": _map_udf(_unicode_leading, "string"),
        "unicodeToUTF8All": _map_udf(_unicode_all, "string"),
    }
