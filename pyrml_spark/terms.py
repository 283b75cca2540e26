"""Term-map → Spark SQL expression compiler.

The reference evaluates term maps row-at-a-time in Python over numpy arrays
(``pyrml_api.py:222-228``, ``Expression._eval_`` per row at
``pyrml_api.py:402-454``).  Here every term map compiles to Spark SQL
expression **text** — template concat, URL-encoding, datatype
canonicalization and N-Triples rendering all stay inside whole-stage
codegen; no Python in the row path.

Why text and not ``F.*`` Column trees: in classic PySpark every Column call
is 3–8 py4j round trips (call-site capture, active-session lookup, the
reflective function lookup, the call itself), and a mapping document's term
trees add up to thousands of nodes. Compiling the 8-map benchmark document
built Column trees in ≈8,000 round trips; as SQL text the compiler hands
each TriplesMap branch to ONE ``selectExpr`` and the whole compile takes a
few hundred. The text is built only through :func:`sql_lit` (string
constants, parser-setting independent) and :func:`sql_ident` (column
names), so no mapping value can change the expression's structure.

Function maps stay Column-built (the registry's interface): their arguments
arrive as ``F.expr(sql)`` (constants as :func:`const_lit`), and the
resulting Column is materialized once under a ``__raw_i`` column
(:func:`with_raws`) that the rendering SQL refers to by name.

Semantics mirrored from the reference (file:line cites into /root/reference):
  * template placeholder substitution with ``\\{``/``\\}`` escapes and
    NaN→None whole-term nulling (pyrml_api.py:402-454, :432-434)
  * IRI-mode %-encoding of each placeholder value, quote(safe='')
    (pyrml_api.py:443)
  * case-insensitive column resolution fallback (pyrml_core.py:197-203,
    pyrml_api.py:664-674); missing column ⇒ NULL term (RMLTC0002c)
  * default-off IRIFY: only ``<``/``>`` escaped in IRIs (pyrml_api.py:500-538,
    IRIFY default False at pyrml_api.py:703)
  * datatype canonicalization = XSD lexical round-trip (pyrml_core.py:266-268)
  * language tags validated (pyrml_api.py:336-339); literal/lang/datatype
    selection order (pyrml_core.py:239-309)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import rdfterms as R
from .model import FunctionCall, TermMap

XSD = R.XSD

# Template tokenizer: '\{' / '\}' are literal braces, '{name}' a placeholder.
_TMPL_TOKEN = re.compile(r"\\\{|\\\}|\{([^{}]+)\}")

IRI_VALID_RE = r'^[A-Za-z][A-Za-z0-9+.\-]*:[^\s"<>{}|\\^`]*$'
LANG_VALID_RE = r"^[a-zA-Z]{1,8}(-[a-zA-Z0-9]{1,8})*$"

_URL_RE = r"(?i)^(https?|ftps?)://\S+$"
_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:"
_DEC_TRAILING_ZEROS_RE = r"(\.\d*?)0+$"
_DEC_TRAILING_DOT_RE = r"\.$"
_ISO_SECONDS = "yyyy-MM-dd'T'HH:mm:ss"
_DQ = "'\"'"

NULL_STRING = "CAST(NULL AS STRING)"


@dataclass
class CompileCtx:
    """Per-logical-source compile context."""

    columns: Sequence[str]                       # resolved source schema
    base_iri: Optional[str] = None
    functions: Optional[object] = None           # FunctionRegistry
    column_prefix: str = ""                      # prefix for join-renamed cols
    irify: bool = False                          # PyRML.IRIFY full slug path
    dtypes: Optional[dict] = None                # column → Spark simple type
    infer_literal_datatypes: bool = False        # PyRML.INFER_LITERAL_DATATYPES
    # function-map Columns the SQL refers to by name: (name, Column, level);
    # a raw's level is one above the raws its own arguments refer to
    raws: List[Tuple[str, Column, int]] = field(default_factory=list)


# ---------------------------------------------------------------------------
# SQL text primitives
# ---------------------------------------------------------------------------

_QUOTE_OR_BACKSLASH = re.compile(r"(['\\])")


def _concat(parts: Sequence[str]) -> str:
    return parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})"


def sql_lit(value: str) -> str:
    """A SQL string constant that parses to ``value`` whatever
    ``spark.sql.parser.escapedStringLiterals`` says: quotes and backslashes
    (the only characters the two parser modes read differently) never
    appear inside a quoted literal — they are spliced in as ``chr(39)`` /
    ``chr(92)``, which constant folding turns back into one literal."""
    parts = [("chr(39)" if p == "'" else "chr(92)" if p == "\\" else f"'{p}'")
             for p in _QUOTE_OR_BACKSLASH.split(value) if p]
    return _concat(parts) if parts else "''"


def sql_ident(name: str) -> str:
    """A backtick-quoted column name (dots and backticks stay literal)."""
    return "`" + name.replace("`", "``") + "`"


# ---------------------------------------------------------------------------
# column resolution
# ---------------------------------------------------------------------------

def resolve_column(columns: Sequence[str], name: str) -> Optional[str]:
    """Exact → lowercase → uppercase → case-insensitive (pyrml_core.py:197-203)."""
    if name in columns:
        return name
    if name.lower() in columns:
        return name.lower()
    if name.upper() in columns:
        return name.upper()
    lowered = {c.lower(): c for c in columns}
    return lowered.get(name.lower())


def const_lit(value) -> Column:
    """``F.lit`` that remembers its Python value (``col._pyrml_const``) so
    function builders needing a non-Column argument (format patterns,
    separators, locales) can recover it without touching the private JVM
    Column API (``_jc.toString()`` breaks under Spark Connect)."""
    col = F.lit(value)
    col._pyrml_const = value
    return col


def const_value(col: Column):
    """The Python constant carried by :func:`const_lit`, else None.

    Reads the instance __dict__ directly: ``getattr`` on a pyspark Column
    never raises — ``Column.__getattr__`` fabricates a struct-field-access
    Column for any unknown name."""
    d = getattr(col, "__dict__", None)
    return d.get("_pyrml_const") if isinstance(d, dict) else None


def _resolve(ctx: CompileCtx, name: str) -> Optional[str]:
    resolved = resolve_column(ctx.columns, ctx.column_prefix + name)
    if resolved is None and ctx.column_prefix:
        resolved = resolve_column(ctx.columns, name)
    return resolved


def source_col(ctx: CompileCtx, name: str) -> str:
    """Resolve a logical reference to a source column; missing ⇒ NULL
    (reproduces RMLTC0002c's expected-empty semantics)."""
    resolved = _resolve(ctx, name)
    if resolved is None:
        return NULL_STRING
    return f"CAST({sql_ident(resolved)} AS STRING)"


# ---------------------------------------------------------------------------
# function maps: Columns materialized under a name the SQL refers to
# ---------------------------------------------------------------------------

def _materialize(ctx: CompileCtx, col: Column, args_from: int) -> str:
    """Register ``col`` as a raw column; ``args_from`` is ``len(ctx.raws)``
    before its arguments were compiled, so every raw registered since is
    one its arguments refer to."""
    level = max((lv for _, _, lv in ctx.raws[args_from:]), default=-1) + 1
    name = f"{ctx.column_prefix}__raw_{len(ctx.raws)}"
    ctx.raws.append((name, col, level))
    return name


def with_raws(ctx: CompileCtx, df: DataFrame) -> DataFrame:
    """``df`` plus every raw column registered in ``ctx`` — one
    ``withColumns`` per dependency level (normally exactly one)."""
    for level in sorted({lv for _, _, lv in ctx.raws}):
        df = df.withColumns({n: c for n, c, lv in ctx.raws if lv == level})
    return df


def _call_column(ctx: CompileCtx, call: FunctionCall) -> Column:
    if ctx.functions is None:
        raise ValueError("function map used but no FunctionRegistry in ctx")
    return ctx.functions.compile_call(ctx, call)


def function_raw(ctx: CompileCtx, call: FunctionCall) -> str:
    """Compile a function map through the registry; returns the name of
    the raw column holding its value."""
    args_from = len(ctx.raws)
    return _materialize(ctx, _call_column(ctx, call), args_from)


def raw_column(ctx: CompileCtx, tm: TermMap) -> Column:
    """A term's raw value as a registry argument: constants as
    :func:`const_lit`, nested function maps as the registry's own Column,
    everything else as ``F.expr`` over its SQL."""
    if tm.kind == "constant":
        return const_lit(tm.constant[1])
    if tm.kind == "function":
        return _call_column(ctx, tm.function)
    return F.expr(raw_value(ctx, tm))


# ---------------------------------------------------------------------------
# URL-encoding (match Python quote(val, safe='') — pyrml_api.py:443)
# ---------------------------------------------------------------------------

def url_encode(sql: str) -> str:
    """Percent-encode like ``urllib.parse.quote(v, safe='')``.

    Spark's ``url_encode`` is form-encoding (Java URLEncoder): space→'+',
    keeps ``*``, encodes ``~``. Fix the three divergences JVM-side.
    """
    return (f"replace(replace(replace(url_encode({sql}), '+', '%20'), "
            f"'*', '%2A'), '%7E', '~')")


# Source-column Spark types whose CAST-to-string renders entirely within
# quote(safe='')'s unreserved set ([0-9A-Za-z.\-], and 'E' in float/double
# scientific notation; DATE renders as yyyy-MM-dd): percent-encoding is an
# identity on such values, so the whole UrlCodec.encode + 3-replace chain
# can be skipped at COMPILE time. Timestamps are excluded (space + ':'),
# strings obviously too.
_ENC_SAFE_TYPES = {"tinyint", "smallint", "int", "bigint",
                   "float", "double", "date"}


def _source_dtype(ctx: "CompileCtx", name: str) -> Optional[str]:
    """Spark simple type of a resolved source column (None if unknown)."""
    if not ctx.dtypes:
        return None
    resolved = _resolve(ctx, name)
    if resolved is None:
        return None
    return (ctx.dtypes.get(resolved) or "").lower()


def _encoding_is_identity(ctx: "CompileCtx", name: str) -> bool:
    dt = _source_dtype(ctx, name)
    return dt is not None and (dt in _ENC_SAFE_TYPES
                               or dt.startswith("decimal"))


def escape_angle(sql: str) -> str:
    """Always-on part of TermUtils.irify (pyrml_api.py:535-537)."""
    return f"replace(replace({sql}, '<', '%3C'), '>', '%3E')"


# transliteration standing in for unidecode (not installed): Latin-1 +
# Latin-Extended-A + Greek + Cyrillic + Arabic single-char mappings via
# translate, multi-char expansions (æ→ae, ß→ss, θ→th, ж→zh, ث→th, …) via a
# replace chain; CJK + Hebrew/Thai/Devanagari/Georgian/Armenian (r6) via
# :func:`cjk_translit`
# below (kana tables, algorithmic Hangul, common-subset pinyin — rare hanzi
# pass through, the documented remaining gap vs unidecode; the r6 scripts
# are fully enumerated per script). Greek/Cyrillic/Arabic target strings follow
# unidecode's published tables (η→e, χ→kh, щ→shch, خ→kh, ش→sh, …); Arabic
# emphatic-consonant case markers (S/D/T/Z/H) wash out in the slug's
# lowercase step, matching the reference's post-unidecode lower().
_TRANSLIT_SRC = (
    "àáâãäåèéêëìíîïòóôõöùúûüýÿñçÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÝÑÇ"
    "āăąćĉċčďđēĕėęěĝğġģĥīĭįıĵķĺļľŀłńņňŉōŏőŕŗřśŝşšţťŧũūŭůűųŵŷźżž"
    "ĀĂĄĆĈĊČĎĐĒĔĖĘĚĜĞĠĢĤĪĬĮİĴĶĹĻĽĿŁŃŅŇŌŎŐŔŖŘŚŜŞŠŢŤŦŨŪŬŮŰŲŴŶŹŻŽ"
    "αβγδεζηικλμνξοπρσςτυωάέήίόύώϊϋΐΰ"
    "ΑΒΓΔΕΖΗΙΚΛΜΝΞΟΠΡΣΤΥΩΆΈΉΊΌΎΏΪΫ"
    "абвгдезийклмнопрстуфыэёі"
    "АБВГДЕЗИЙКЛМНОПРСТУФЫЭЁІ"
    "اأإآؤئبةتجحدرزسصضطظفقكلمنهويى٠١٢٣٤٥٦٧٨٩"
)
_TRANSLIT_DST = (
    "aaaaaaeeeeiiiiooooouuuuyyncAAAAAAEEEEIIIIOOOOOUUUUYNC"
    "aaaccccddeeeeegggghiiiijklllllnnnnooorrrsssstttuuuuuuwyzzz"
    "AAACCCCDDEEEEEGGGGHIIIIJKLLLLLNNNOOORRRSSSSTTTUUUUUUWYZZZ"
    "abgdezeiklmnxoprsstuoaeeiouoiuiu"
    "ABGDEZEIKLMNXOPRSTUOAEEIOUOIU"
    "abvgdeziiklmnoprstufyeei"
    "ABVGDEZIIKLMNOPRSTUFYEEI"
    "aaiawybhtjHdrzsSDTZfqklmnhwyy0123456789"
)
# multi-char expansions (and deletions) translate() cannot express
_TRANSLIT_MULTI = [("æ", "ae"), ("Æ", "AE"), ("œ", "oe"), ("Œ", "OE"),
                   ("ß", "ss"), ("ø", "o"), ("Ø", "O"), ("ð", "d"),
                   ("Ð", "D"), ("þ", "th"), ("Þ", "Th"), ("ĳ", "ij"),
                   ("Ĳ", "IJ"),
                   # Greek digraph letters
                   ("θ", "th"), ("Θ", "Th"), ("φ", "ph"), ("Φ", "Ph"),
                   ("χ", "kh"), ("Χ", "Kh"), ("ψ", "ps"), ("Ψ", "Ps"),
                   # Cyrillic digraphs; hard/soft signs delete
                   ("ж", "zh"), ("Ж", "Zh"), ("х", "kh"), ("Х", "Kh"),
                   ("ц", "ts"), ("Ц", "Ts"), ("ч", "ch"), ("Ч", "Ch"),
                   ("щ", "shch"), ("Щ", "Shch"), ("ш", "sh"), ("Ш", "Sh"),
                   ("ю", "yu"), ("Ю", "Yu"), ("я", "ya"), ("Я", "Ya"),
                   ("ъ", ""), ("Ъ", ""), ("ь", ""), ("Ь", ""),
                   ("ї", "yi"), ("Ї", "Yi"), ("є", "ie"), ("Є", "Ie"),
                   ("ґ", "g"), ("Ґ", "G"),
                   # Arabic digraphs + hamza/ayn (→ apostrophe, stripped by
                   # the slug's punctuation removal) + short-vowel marks
                   ("ث", "th"), ("خ", "kh"), ("ذ", "dh"), ("ش", "sh"),
                   ("غ", "gh"), ("ء", "'"), ("ع", "'"),
                   ("ً", "an"), ("ٌ", "un"), ("ٍ", "in"),
                   ("َ", "a"), ("ُ", "u"), ("ِ", "i"), ("ّ", ""), ("ْ", ""),
                   # Japanese long-vowel mark + middle dot (outside the
                   # indexed kana blocks)
                   ("ー", "-"), ("・", "")]


# --- CJK transliteration (round 5, VERDICT r4 #5) -------------------------
# Kana are a fixed indexed table (per-char romaji, exactly unidecode's
# published x030 table — unidecode is per-character, so きゃ→'kiya' like
# unidecode, not contextual Hepburn 'kya'). Hangul needs NO table: a
# syllable U+AC00+((ini*21+med)*28+fin) decomposes arithmetically and is
# romanized from the 19/21/28 jamo lists (Revised Romanization). Hanzi have
# no algorithm — a common-subset pinyin map (unidecode-style 'Zhong ' with
# trailing space) covers frequent characters; the rest pass through
# (documented partial vs unidecode's full CJK tables). All of it is native
# Columns: one F.transform over F.split(col, '') — no Python in the row
# path — gated by a CJK rlike so non-CJK strings skip the char walk.
_HIRAGANA = [
    "a", "a", "i", "i", "u", "u", "e", "e", "o", "o",
    "ka", "ga", "ki", "gi", "ku", "gu", "ke", "ge", "ko", "go",
    "sa", "za", "shi", "ji", "su", "zu", "se", "ze", "so", "zo",
    "ta", "da", "chi", "ji", "tsu", "tsu", "zu", "te", "de", "to", "do",
    "na", "ni", "nu", "ne", "no",
    "ha", "ba", "pa", "hi", "bi", "pi", "fu", "bu", "pu",
    "he", "be", "pe", "ho", "bo", "po",
    "ma", "mi", "mu", "me", "mo",
    "ya", "ya", "yu", "yu", "yo", "yo",
    "ra", "ri", "ru", "re", "ro",
    "wa", "wa", "wi", "we", "wo", "n", "vu", "ka", "ke",
]  # U+3041..U+3096
_KATAKANA = _HIRAGANA + ["va", "vi", "ve", "vo"]  # U+30A1..U+30FA
# Revised-Romanization jamo (initial 19, medial 21, final 28)
_HANGUL_INI = ["g", "kk", "n", "d", "tt", "r", "m", "b", "pp", "s", "ss",
               "", "j", "jj", "ch", "k", "t", "p", "h"]
_HANGUL_MED = ["a", "ae", "ya", "yae", "eo", "e", "yeo", "ye", "o", "wa",
               "wae", "oe", "yo", "u", "wo", "we", "wi", "yu", "eu", "ui",
               "i"]
_HANGUL_FIN = ["", "g", "kk", "gs", "n", "nj", "nh", "d", "l", "lg", "lm",
               "lb", "ls", "lt", "lp", "lh", "m", "b", "bs", "s", "ss",
               "ng", "j", "ch", "k", "t", "p", "h"]
# common-subset hanzi → pinyin, unidecode-style (capitalized + trailing
# space; case washes out in the slug's lower(), the space becomes '_')
_HANZI_PINYIN = {
    "的": "De ", "一": "Yi ", "是": "Shi ", "不": "Bu ", "人": "Ren ",
    "我": "Wo ", "在": "Zai ", "有": "You ", "他": "Ta ", "这": "Zhe ",
    "中": "Zhong ", "大": "Da ", "来": "Lai ", "上": "Shang ", "国": "Guo ",
    "个": "Ge ", "到": "Dao ", "说": "Shuo ", "们": "Men ", "为": "Wei ",
    "子": "Zi ", "和": "He ", "你": "Ni ", "地": "Di ", "出": "Chu ",
    "道": "Dao ", "也": "Ye ", "时": "Shi ", "年": "Nian ", "就": "Jiu ",
    "那": "Na ", "要": "Yao ", "下": "Xia ", "以": "Yi ", "生": "Sheng ",
    "会": "Hui ", "自": "Zi ", "文": "Wen ", "日": "Ri ", "本": "Ben ",
    "语": "Yu ", "学": "Xue ", "好": "Hao ", "北": "Bei ", "京": "Jing ",
    "东": "Dong ", "西": "Xi ", "南": "Nan ", "海": "Hai ", "天": "Tian ",
    "明": "Ming ", "名": "Ming ", "字": "Zi ", "山": "Shan ", "水": "Shui ",
    "火": "Huo ", "王": "Wang ", "李": "Li ", "张": "Zhang ", "刘": "Liu ",
    "陈": "Chen ", "杨": "Yang ", "黄": "Huang ", "赵": "Zhao ",
    "周": "Zhou ", "吴": "Wu ", "城": "Cheng ", "市": "Shi ",
    "省": "Sheng ", "县": "Xian ", "区": "Qu ", "街": "Jie ", "路": "Lu ",
    "号": "Hao ", "月": "Yue ", "电": "Dian ", "话": "Hua ", "车": "Che ",
    "花": "Hua ", "白": "Bai ", "黑": "Hei ", "红": "Hong ", "金": "Jin ",
    "木": "Mu ", "土": "Tu ", "风": "Feng ", "云": "Yun ", "雨": "Yu ",
    "雪": "Xue ", "星": "Xing ", "空": "Kong ", "气": "Qi ", "心": "Xin ",
    "手": "Shou ", "口": "Kou ", "目": "Mu ", "头": "Tou ", "长": "Chang ",
    "小": "Xiao ", "多": "Duo ", "少": "Shao ", "高": "Gao ", "新": "Xin ",
    "老": "Lao ", "三": "San ", "二": "Er ", "四": "Si ", "五": "Wu ",
    "六": "Liu ", "七": "Qi ", "八": "Ba ", "九": "Jiu ", "十": "Shi ",
    "百": "Bai ", "千": "Qian ", "万": "Wan ", "零": "Ling ", "家": "Jia ",
    "门": "Men ", "开": "Kai ", "关": "Guan ", "爱": "Ai ", "朋": "Peng ",
    "友": "You ", "谢": "Xie ", "再": "Zai ", "见": "Jian ", "先": "Xian ",
    "后": "Hou ", "前": "Qian ", "外": "Wai ", "内": "Nei ", "男": "Nan ",
    "女": "Nu ", "安": "An ", "平": "Ping ", "正": "Zheng ", "方": "Fang ",
    "公": "Gong ", "司": "Si ", "业": "Ye ", "工": "Gong ", "作": "Zuo ",
    "用": "Yong ", "信": "Xin ", "息": "Xi ", "网": "Wang ", "站": "Zhan ",
    "数": "Shu ", "据": "Ju ", "库": "Ku ", "表": "Biao ", "查": "Cha ",
    "询": "Xun ",
    # frequent traditional variants
    "語": "Yu ", "東": "Dong ", "國": "Guo ", "學": "Xue ", "門": "Men ",
    "車": "Che ", "馬": "Ma ", "龍": "Long ", "鳥": "Niao ", "魚": "Yu ",
}

# r6 tier — Hebrew / Thai / Devanagari single-char romanizations
# (unidecode-style simplifications; these scripts are fully enumerable
# unlike hanzi, so the coverage is complete per script). Combining marks
# (niqqud, Thai tone marks, virama/nukta) map to "" — deletions the
# translate() pair cannot express, so they ride the same per-char map as
# the hanzi table. Hamza/ayn-like letters map to "'" which the slug's
# punctuation strip removes, matching the existing Arabic handling.
_SCRIPT_MAP = {
    # Hebrew U+05D0..U+05EA (+ finals), points U+05B0..U+05C2 delete
    "א": "'", "ב": "b", "ג": "g", "ד": "d", "ה": "h", "ו": "v", "ז": "z",
    "ח": "kh", "ט": "t", "י": "y", "ך": "k", "כ": "k", "ל": "l", "ם": "m",
    "מ": "m", "ן": "n", "נ": "n", "ס": "s", "ע": "'", "ף": "p", "פ": "p",
    "ץ": "ts", "צ": "ts", "ק": "q", "ר": "r", "ש": "sh", "ת": "t",
    "ְ": "", "ֱ": "", "ֲ": "", "ֳ": "", "ִ": "", "ֵ": "", "ֶ": "", "ַ": "",
    "ָ": "", "ֹ": "", "ֺ": "", "ֻ": "", "ּ": "", "ֽ": "", "־": "-",
    "ׁ": "", "ׂ": "", "ׇ": "", "׳": "'", "״": '"',
    # Thai consonants U+0E01.., vowels, tone marks (delete), digits
    "ก": "k", "ข": "kh", "ฃ": "kh", "ค": "kh", "ฅ": "kh", "ฆ": "kh",
    "ง": "ng", "จ": "ch", "ฉ": "ch", "ช": "ch", "ซ": "s", "ฌ": "ch",
    "ญ": "y", "ฎ": "d", "ฏ": "t", "ฐ": "th", "ฑ": "th", "ฒ": "th",
    "ณ": "n", "ด": "d", "ต": "t", "ถ": "th", "ท": "th", "ธ": "th",
    "น": "n", "บ": "b", "ป": "p", "ผ": "ph", "ฝ": "f", "พ": "ph",
    "ฟ": "f", "ภ": "ph", "ม": "m", "ย": "y", "ร": "r", "ฤ": "rue",
    "ล": "l", "ฦ": "lue", "ว": "w", "ศ": "s", "ษ": "s", "ส": "s",
    "ห": "h", "ฬ": "l", "อ": "o", "ฮ": "h",
    "ะ": "a", "ั": "a", "า": "a", "ำ": "am", "ิ": "i", "ี": "i",
    "ึ": "ue", "ื": "ue", "ุ": "u", "ู": "u", "ฺ": "", "เ": "e",
    "แ": "ae", "โ": "o", "ใ": "ai", "ไ": "ai", "ๅ": "", "ๆ": "2",
    "็": "", "่": "", "้": "", "๊": "", "๋": "", "์": "", "ํ": "",
    "๐": "0", "๑": "1", "๒": "2", "๓": "3", "๔": "4", "๕": "5",
    "๖": "6", "๗": "7", "๘": "8", "๙": "9",
    # Devanagari: independent vowels, consonants (implicit-a omitted,
    # unidecode-style), matras, signs (virama/nukta delete), digits
    "अ": "a", "आ": "aa", "इ": "i", "ई": "ii", "उ": "u", "ऊ": "uu",
    "ऋ": "r", "ऌ": "l", "ऍ": "e", "ऎ": "e", "ए": "e", "ऐ": "ai",
    "ऑ": "o", "ऒ": "o", "ओ": "o", "औ": "au",
    "क": "k", "ख": "kh", "ग": "g", "घ": "gh", "ङ": "ng", "च": "c",
    "छ": "ch", "ज": "j", "झ": "jh", "ञ": "ny", "ट": "tt", "ठ": "tth",
    "ड": "dd", "ढ": "ddh", "ण": "nn", "त": "t", "थ": "th", "द": "d",
    "ध": "dh", "न": "n", "प": "p", "फ": "ph", "ब": "b", "भ": "bh",
    "म": "m", "य": "y", "र": "r", "ल": "l", "ळ": "ll", "व": "v",
    "श": "sh", "ष": "ss", "स": "s", "ह": "h",
    "ा": "aa", "ि": "i", "ी": "ii", "ु": "u", "ू": "uu", "ृ": "r",
    "ॄ": "rr", "ॅ": "e", "ॆ": "e", "े": "e", "ै": "ai", "ॉ": "o",
    "ॊ": "o", "ो": "o", "ौ": "au", "्": "", "़": "", "ँ": "n",
    "ं": "n", "ः": "h", "ऽ": "'", "।": " ", "॥": " ",
    "०": "0", "१": "1", "२": "2", "३": "3", "४": "4", "५": "5",
    "६": "6", "७": "7", "८": "8", "९": "9",
    # Bengali U+0985.. (structurally parallel to Devanagari: implicit-a
    # omitted, matras mapped, virama/nukta delete, digits)
    "অ": "a", "আ": "aa", "ই": "i", "ঈ": "ii", "উ": "u", "ঊ": "uu",
    "ঋ": "r", "এ": "e", "ঐ": "ai", "ও": "o", "ঔ": "au",
    "ক": "k", "খ": "kh", "গ": "g", "ঘ": "gh", "ঙ": "ng", "চ": "c",
    "ছ": "ch", "জ": "j", "ঝ": "jh", "ঞ": "ny", "ট": "tt", "ঠ": "tth",
    "ড": "dd", "ঢ": "ddh", "ণ": "nn", "ত": "t", "থ": "th", "দ": "d",
    "ধ": "dh", "ন": "n", "প": "p", "ফ": "ph", "ব": "b", "ভ": "bh",
    "ম": "m", "য": "y", "র": "r", "ল": "l", "শ": "sh", "ষ": "ss",
    "স": "s", "হ": "h", "ড়": "rr", "ঢ়": "rh", "য়": "y", "ৎ": "t",
    "া": "aa", "ি": "i", "ী": "ii", "ু": "u", "ূ": "uu", "ৃ": "r",
    "ে": "e", "ৈ": "ai", "ো": "o", "ৌ": "au", "্": "", "়": "",
    "ঁ": "n", "ং": "n", "ঃ": "h", "ঽ": "'",
    "০": "0", "১": "1", "২": "2", "৩": "3", "৪": "4", "৫": "5",
    "৬": "6", "৭": "7", "৮": "8", "৯": "9",
    # Georgian (Mkhedruli U+10D0.., national-system romanization; the
    # aspiration apostrophe washes out in the slug's punctuation strip)
    "ა": "a", "ბ": "b", "გ": "g", "დ": "d", "ე": "e", "ვ": "v",
    "ზ": "z", "თ": "t", "ი": "i", "კ": "k", "ლ": "l", "მ": "m",
    "ნ": "n", "ო": "o", "პ": "p", "ჟ": "zh", "რ": "r", "ს": "s",
    "ტ": "t", "უ": "u", "ფ": "p", "ქ": "k", "ღ": "gh", "ყ": "q",
    "შ": "sh", "ჩ": "ch", "ც": "ts", "ძ": "dz", "წ": "ts", "ჭ": "ch",
    "ხ": "kh", "ჯ": "j", "ჰ": "h", "ჱ": "e", "ჲ": "y", "ჳ": "w",
    "ჴ": "kh", "ჵ": "o", "ჶ": "f",
    # Armenian U+0531..U+0587 (both cases → lowercase, the slug
    # lowercases anyway; և is the ev ligature)
    "ա": "a", "բ": "b", "գ": "g", "դ": "d", "ե": "e", "զ": "z",
    "է": "e", "ը": "y", "թ": "t", "ժ": "zh", "ի": "i", "լ": "l",
    "խ": "kh", "ծ": "ts", "կ": "k", "հ": "h", "ձ": "dz", "ղ": "gh",
    "ճ": "ch", "մ": "m", "յ": "y", "ն": "n", "շ": "sh", "ո": "o",
    "չ": "ch", "պ": "p", "ջ": "j", "ռ": "r", "ս": "s", "վ": "v",
    "տ": "t", "ր": "r", "ց": "ts", "ւ": "w", "փ": "p", "ք": "k",
    "օ": "o", "ֆ": "f", "և": "ev",
    "Ա": "a", "Բ": "b", "Գ": "g", "Դ": "d", "Ե": "e", "Զ": "z",
    "Է": "e", "Ը": "y", "Թ": "t", "Ժ": "zh", "Ի": "i", "Լ": "l",
    "Խ": "kh", "Ծ": "ts", "Կ": "k", "Հ": "h", "Ձ": "dz", "Ղ": "gh",
    "Ճ": "ch", "Մ": "m", "Յ": "y", "Ն": "n", "Շ": "sh", "Ո": "o",
    "Չ": "ch", "Պ": "p", "Ջ": "j", "Ռ": "r", "Ս": "s", "Վ": "v",
    "Տ": "t", "Ր": "r", "Ց": "ts", "Ւ": "w", "Փ": "p", "Ք": "k",
    "Օ": "o", "Ֆ": "f",
    "՚": "'", "՛": "", "՜": "", "՝": "", "՞": "", "՟": "", "ՙ": "'",
    # r7 — Sinhala (U+0D80.., own layout — NOT ISCII-aligned like the
    # four blocks derived below): ISO 15919-ish romanization, al-lakuna
    # (virama) and touching marks delete, prenasalized stops kept as
    # digraphs
    "අ": "a", "ආ": "aa", "ඇ": "ae", "ඈ": "aae", "ඉ": "i", "ඊ": "ii",
    "උ": "u", "ඌ": "uu", "ඍ": "r", "ඎ": "rr", "ඏ": "l", "ඐ": "ll",
    "එ": "e", "ඒ": "ee", "ඓ": "ai", "ඔ": "o", "ඕ": "oo", "ඖ": "au",
    "ක": "k", "ඛ": "kh", "ග": "g", "ඝ": "gh", "ඞ": "ng", "ඟ": "ng",
    "ච": "c", "ඡ": "ch", "ජ": "j", "ඣ": "jh", "ඤ": "ny", "ඥ": "gn",
    "ඦ": "nj", "ට": "tt", "ඨ": "tth", "ඩ": "dd", "ඪ": "ddh",
    "ණ": "nn", "ඬ": "nd", "ත": "t", "ථ": "th", "ද": "d", "ධ": "dh",
    "න": "n", "ඳ": "nd", "ප": "p", "ඵ": "ph", "බ": "b", "භ": "bh",
    "ම": "m", "ඹ": "mb", "ය": "y", "ර": "r", "ල": "l", "ව": "v",
    "ශ": "sh", "ෂ": "ss", "ස": "s", "හ": "h", "ළ": "ll", "ෆ": "f",
    "ා": "aa", "ැ": "ae", "ෑ": "aae", "ි": "i", "ී": "ii", "ු": "u",
    "ූ": "uu", "ෘ": "r", "ෙ": "e", "ේ": "ee", "ෛ": "ai", "ො": "o",
    "ෝ": "oo", "ෞ": "au", "ෟ": "l", "ෲ": "rr", "ෳ": "ll", "්": "",
    "ං": "n", "ඃ": "h", "෴": " ", "ඁ": "n",
    # Sinhala lith digits U+0DE6..
    "෦": "0", "෧": "1", "෨": "2", "෩": "3", "෪": "4",
    "෫": "5", "෬": "6", "෭": "7", "෮": "8", "෯": "9",
}

# r7 — Tamil / Telugu / Kannada / Malayalam, DERIVED from the Devanagari
# entries above: the Indic blocks U+0900-0D7F share one in-block layout
# by Unicode design (ISCII-1988 heritage — க U+0B95 sits at the same
# offset 0x15 as क U+0915, matras/virama/digits likewise), so each
# script's table is the Devanagari romanization re-based onto the target
# block, restricted to codepoints the target script assigns, plus
# per-script overrides for the letters Devanagari's table lacks (the
# ṟ/ḻ/ṉ row, Malayalam chillus, au-length marks, archaic Telugu ṯs/ḏz).
# Completeness per block (every assigned Lo/Mc/Mn/Nd codepoint mapped or
# consciously excluded) is pinned by test_irify.py.
def _derive_brahmic(base: int, overrides: dict) -> dict:
    import unicodedata

    out: dict = {}
    for ch, roman in list(_SCRIPT_MAP.items()):
        if len(ch) != 1:  # decomposed digraph keys (e.g. nukta forms)
            continue
        cp = ord(ch)
        if not (0x0900 <= cp <= 0x0963):  # Devanagari letters/marks only
            continue                       # (danda/digits handled below)
        tgt = chr(base + (cp - 0x0900))
        try:
            unicodedata.name(tgt)
        except ValueError:
            continue                       # offset unassigned in target
        out[tgt] = roman
    for i in range(10):                    # digits share offset 0x66..
        out[chr(base + 0x66 + i)] = str(i)
    out.update(overrides)
    return out


_SCRIPT_MAP.update(_derive_brahmic(0x0B80, {   # Tamil
    "ன": "n", "ற": "rr", "ழ": "zh", "ௐ": "om", "ௗ": "au",
}))
_SCRIPT_MAP.update(_derive_brahmic(0x0C00, {   # Telugu
    "ఱ": "rr", "ౘ": "ts", "ౙ": "dz", "ౚ": "rr", "ఴ": "zh",
    "ౕ": "", "ౖ": "",                      # length marks
    "ౠ": "r", "ౡ": "l", "ౢ": "l", "ౣ": "ll",
    "ఀ": "n", "ఄ": "n", "ౝ": "n",  # combining nasals/pollu
}))
_SCRIPT_MAP.update(_derive_brahmic(0x0C80, {   # Kannada
    "ಱ": "rr", "ೞ": "zh",
    "ೕ": "", "ೖ": "",                      # length marks
    "ೠ": "r", "ೡ": "l", "ೢ": "l", "ೣ": "ll",
    "ಀ": "n", "ೝ": "n",          # spacing candrabindu, pollu
    "ೱ": "h", "ೲ": "h",          # jihvamuliya, upadhmaniya
}))
_SCRIPT_MAP.update(_derive_brahmic(0x0D00, {   # Malayalam
    "ം": "m",                              # anusvara is m-final here
    "ഩ": "n", "റ": "rr", "ഴ": "zh", "ഺ": "tt",
    "ൗ": "au", "ൔ": "m", "ൕ": "y", "ൖ": "l",  # au mark + chillu marks
    "ൺ": "nn", "ൻ": "n", "ർ": "r", "ൽ": "l", "ൾ": "ll", "ൿ": "k",
    "ൠ": "r", "ൡ": "l", "ൢ": "l", "ൣ": "ll",
    "ഀ": "n", "ഄ": "n",          # combining/vedic anusvara
    "഻": "", "ൎ": "r", "ൟ": "ii",  # bar-virama, reph
}))
_CJK_GUARD = "[ぁ-ゖァ-ヺ一-鿿가-힣֐-״฀-๛ऀ-ॿঀ-৿஀-෿Ⴀ-ჿԱ-֏]"


def _sql_array(values: Sequence[str]) -> str:
    return f"array({', '.join(sql_lit(v) for v in values)})"


def cjk_translit(sql: str) -> str:
    """Per-character CJK + Hebrew/Thai/Devanagari romanization, all
    JVM-side: split → transform → array_join, evaluated only for strings
    the rlike guard says contain one of those scripts. Kana/hanzi and the
    r6 scripts by table lookup, Hangul by arithmetic decomposition."""
    hmap = "map(" + ", ".join(
        f"{sql_lit(k)}, {sql_lit(v)}"
        for k, v in {**_HANZI_PINYIN, **_SCRIPT_MAP}.items()) + ")"
    code = "ascii(__ch)"
    hidx = f"({code} - {0xAC00})"
    tr = (
        f"CASE WHEN {code} >= {0x3041} AND {code} <= {0x3096} "
        f"THEN element_at({_sql_array(_HIRAGANA)}, {code} - {0x3041 - 1}) "
        f"WHEN {code} >= {0x30A1} AND {code} <= {0x30FA} "
        f"THEN element_at({_sql_array(_KATAKANA)}, {code} - {0x30A1 - 1}) "
        f"WHEN {code} >= {0xAC00} AND {code} <= {0xD7A3} THEN concat("
        f"element_at({_sql_array(_HANGUL_INI)}, "
        f"CAST(floor({hidx} / 588) AS INT) + 1), "
        f"element_at({_sql_array(_HANGUL_MED)}, "
        f"CAST(floor(({hidx} % 588) / 28) AS INT) + 1), "
        f"element_at({_sql_array(_HANGUL_FIN)}, ({hidx} % 28) + 1)) "
        f"ELSE coalesce(element_at({hmap}, __ch), __ch) END"
    )
    return (f"CASE WHEN {sql} RLIKE {sql_lit(_CJK_GUARD)} "
            f"THEN array_join(transform(split({sql}, ''), __ch -> {tr}), '') "
            f"ELSE {sql} END")


def irify_full(sql: str) -> str:
    """The PyRML.IRIFY=True slugification path (pyrml_api.py:500-538):
    transliterate → lower → strip ' ; , & " ? ! ( ) → space|/ → _ →
    collapse -/_/| runs → %3C/%3E. Applied only to strings that are not
    already http(s)/ftp URLs (the reference's URL regex guard)."""
    url_guard = f"{sql} RLIKE {sql_lit(_URL_RE)}"
    s = (f"translate({cjk_translit(sql)}, {sql_lit(_TRANSLIT_SRC)}, "
         f"{sql_lit(_TRANSLIT_DST)})")
    for frm, to in _TRANSLIT_MULTI:
        s = f"replace({s}, {sql_lit(frm)}, {sql_lit(to)})"
    s = f"lower({s})"
    for pattern, repl in ((r"[';,&\"?!]", ""), (r"[ /]", "_"), (r"[()]", ""),
                          (r"-$", ""), (r"(-)+", "_"), (r"(_)+", "_"),
                          (r"(\|)+", "_")):
        s = f"regexp_replace({s}, {sql_lit(pattern)}, {sql_lit(repl)})"
    return escape_angle(f"CASE WHEN {url_guard} THEN {sql} ELSE {s} END")


# ---------------------------------------------------------------------------
# N-Triples literal escaping
# ---------------------------------------------------------------------------

def nt_escape(sql: str) -> str:
    for ch, esc in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                    ("\r", "\\r"), ("\t", "\\t")):
        sql = f"replace({sql}, {sql_lit(ch)}, {sql_lit(esc)})"
    return sql


# ---------------------------------------------------------------------------
# datatype canonicalization (XSD lexical round-trip, pyrml_core.py:266-268)
# ---------------------------------------------------------------------------

_INT_TYPES = {
    "integer", "int", "long", "short", "byte", "nonNegativeInteger",
    "positiveInteger", "nonPositiveInteger", "negativeInteger",
    "unsignedLong", "unsignedInt", "unsignedShort", "unsignedByte",
}


def _when_cast(cast: str, canon: str, sql: str) -> str:
    return f"CASE WHEN {cast} IS NOT NULL THEN {canon} ELSE {sql} END"


def canonicalize_datatype(sql: str, datatype: str) -> str:
    """Canonical XSD lexical form; uncastable values keep their lexical form."""
    local = datatype.rsplit("#", 1)[-1]
    if local in _INT_TYPES:
        cast = f"try_cast({sql} AS BIGINT)"
        return _when_cast(cast, f"CAST({cast} AS STRING)", sql)
    if local == "decimal":
        cast = f"try_cast({sql} AS DECIMAL(38,12))"
        canon = (f"regexp_replace(CAST({cast} AS STRING), "
                 f"{sql_lit(_DEC_TRAILING_ZEROS_RE)}, '$1')")
        canon = f"regexp_replace({canon}, {sql_lit(_DEC_TRAILING_DOT_RE)}, '')"
        return _when_cast(cast, canon, sql)
    if local in ("double", "float"):
        cast = f"try_cast({sql} AS DOUBLE)"
        return _when_cast(cast, f"CAST({cast} AS STRING)", sql)
    if local == "boolean":
        return (f"CASE WHEN lower({sql}) IN ('true', '1') THEN 'true' "
                f"WHEN lower({sql}) IN ('false', '0') THEN 'false' "
                f"ELSE {sql} END")
    if local == "date":
        cast = f"try_cast({sql} AS DATE)"
        return _when_cast(cast, f"CAST({cast} AS STRING)", sql)
    if local == "dateTime":
        cast = f"try_to_timestamp({sql})"
        frac = f"date_format({cast}, 'SSSSSS')"
        iso = (f"concat(date_format({cast}, "
               f"{sql_lit(_ISO_SECONDS)}), "
               f"CASE WHEN {frac} = '000000' THEN '' "
               f"ELSE regexp_replace(concat('.', {frac}), '0+$', '') END)")
        return _when_cast(cast, iso, sql)
    return sql


# ---------------------------------------------------------------------------
# raw value + rendering
# ---------------------------------------------------------------------------

def _plain_template_parts(ctx: CompileCtx, text: str,
                          iri_mode: bool) -> List[str]:
    parts: List[str] = []
    pos = 0
    for m in _TMPL_TOKEN.finditer(text):
        if m.start() > pos:
            parts.append(sql_lit(text[pos:m.start()]))
        tok = m.group(0)
        if tok == "\\{":
            parts.append("'{'")
        elif tok == "\\}":
            parts.append("'}'")
        else:
            name = m.group(1).strip()
            val = source_col(ctx, name)
            # numeric/date placeholders render within the unreserved set —
            # percent-encoding is an identity, skip its 4-expression chain
            # (the dominant per-row cost of IRI templates at bench scale)
            if iri_mode and not _encoding_is_identity(ctx, name):
                val = url_encode(val)
            parts.append(val)
        pos = m.end()
    if pos < len(text):
        parts.append(sql_lit(text[pos:]))
    return parts


def compile_eval_ast(ctx: CompileCtx, ast) -> Column:
    """%eval:% AST → Column argument (T14). Functions resolved from the
    registry by registered id or IRI local name; '*' passes the whole row
    struct."""
    kind = ast[0]
    if kind == "call":
        if ctx.functions is None:
            raise ValueError("%eval:% used but no FunctionRegistry in ctx")
        fn = ctx.functions.resolve(ast[1])
        args = [compile_eval_ast(ctx, a) for a in ast[2]]
        return fn.build_positional(args)
    if kind == "str":
        s = ast[1]
        if "{" in s:
            return F.expr(_concat(_plain_template_parts(ctx, s,
                                                        iri_mode=False)))
        return const_lit(s)
    if kind in ("num", "const"):
        return const_lit(ast[1])
    if kind == "row":
        return F.expr("named_struct(" + ", ".join(
            f"{sql_lit(c)}, {sql_ident(c)}" for c in ctx.columns) + ")")
    raise ValueError(f"unknown eval AST node {ast!r}")


def compile_template_raw(ctx: CompileCtx, template: str, iri_mode: bool) -> str:
    """Template → concat expression. IRI mode %-encodes each placeholder.
    A NULL placeholder nulls the whole term (concat null-propagation ==
    the reference's NaN rule at pyrml_api.py:432-434). ``%eval:fun(...)%``
    segments splice in registry-compiled function calls (T14), materialized
    as raw columns (:func:`with_raws`); like the reference, eval results
    are inserted verbatim (irify-only, no %-encoding — Funz.eval at
    pyrml_api.py:119-130)."""
    from .template_expr import EVAL_RE, parse_eval

    parts: List[str] = []
    cursor = 0
    for m in EVAL_RE.finditer(template):
        if m.start() > cursor:
            parts.extend(
                _plain_template_parts(ctx, template[cursor:m.start()], iri_mode)
            )
        args_from = len(ctx.raws)
        name = _materialize(ctx, compile_eval_ast(ctx, parse_eval(m.group(1))),
                            args_from)
        parts.append(f"CAST({sql_ident(name)} AS STRING)")
        cursor = m.end()
    if cursor < len(template):
        parts.extend(_plain_template_parts(ctx, template[cursor:], iri_mode))
    if not parts:
        return "''"
    return _concat(parts)


def raw_value(ctx: CompileCtx, tm: TermMap) -> str:
    """The term's raw string value (pre-N-Triples rendering).

    For function maps this names a raw column that may be an ArrayType
    (multi-valued objects, e.g. grel:string_split — fan-out handled by the
    compiler via explode)."""
    if tm.kind == "template":
        return compile_template_raw(ctx, tm.template, iri_mode=(tm.term_type == "iri"))
    if tm.kind == "reference":
        return source_col(ctx, tm.reference)
    if tm.kind == "constant":
        return sql_lit(tm.constant[1])
    if tm.kind == "function":
        return sql_ident(function_raw(ctx, tm.function))
    raise ValueError(f"unknown term map kind {tm.kind!r}")


_SPARK_TO_XSD = {
    "tinyint": "integer", "smallint": "integer", "int": "integer",
    "bigint": "integer",
    "float": "double", "double": "double",
    "boolean": "boolean",
    "timestamp": "dateTime", "timestamp_ntz": "dateTime",
    "date": "date",
}


def infer_datatype_for(ctx: CompileCtx, tm: TermMap) -> Optional[str]:
    """XSD datatype IRI inferred from the referenced source column's Spark
    type (only for plain rml:reference object maps — templates/functions
    concatenate to string, matching the reference where str(value) drops
    the native type)."""
    if tm.kind != "reference" or not ctx.dtypes:
        return None
    resolved = resolve_column(ctx.columns, ctx.column_prefix + tm.reference) \
        or resolve_column(ctx.columns, tm.reference)
    spark_t = (ctx.dtypes.get(resolved) or "").lower()
    if spark_t.startswith("decimal"):
        return XSD + "decimal"
    local = _SPARK_TO_XSD.get(spark_t)
    return (XSD + local) if local else None


def _template_is_safe_absolute_iri(ctx: CompileCtx, tm: "TermMap") -> bool:
    """Compile-time proof that an IRI template ALWAYS renders a valid
    absolute IRI: every placeholder is a numeric/date column (rendering
    within ``[0-9A-Za-z.\\-E]`` — no whitespace, quotes, angle brackets or
    other excluded characters) and the static text, with placeholders
    substituted, full-matches IRI_VALID_RE. Then ``escape_angle`` (no
    ``<``/``>`` present), the RLIKE validity filter (always true) and base
    resolution (template is absolute) are identities and the whole
    validation chain can be dropped from the row path — it otherwise runs
    per row, twice (the null-elimination filter re-evaluates the term
    below the projection)."""
    if tm.kind != "template" or not tm.template:
        return False
    from .template_expr import EVAL_RE

    if EVAL_RE.search(tm.template):
        return False
    pos = 0
    skeleton: List[str] = []
    for m in _TMPL_TOKEN.finditer(tm.template):
        skeleton.append(tm.template[pos:m.start()])
        if m.group(0) in ("\\{", "\\}"):
            return False
        if not _encoding_is_identity(ctx, m.group(1).strip()):
            return False
        skeleton.append("0")
        pos = m.end()
    skeleton.append(tm.template[pos:])
    return re.fullmatch(IRI_VALID_RE.strip("^$"), "".join(skeleton)) is not None


def render_value(ctx: CompileCtx, tm: TermMap, raw: str) -> str:
    """Raw value SQL → N-Triples lexical form SQL (NULL-preserving: every
    branch concatenates ``raw``, and concat of a NULL is NULL)."""
    if tm.kind == "constant":
        # constants render driver-side, exactly once
        return sql_lit(R.to_nt(tm.constant))

    if tm.term_type == "iri":
        if not ctx.irify and _template_is_safe_absolute_iri(ctx, tm):
            return f"concat('<', {raw}, '>')"
        val = irify_full(raw) if ctx.irify else escape_angle(raw)
        if ctx.base_iri:
            # relative IRI → base + iri (pyrml_mapper.py:164-194)
            val = (f"CASE WHEN {val} RLIKE "
                   f"{sql_lit(_SCHEME_RE)} THEN {val} "
                   f"ELSE concat({sql_lit(ctx.base_iri)}, {val}) END")
        # validity filter: invalid IRIs become NULL (dropped by D9)
        val = f"CASE WHEN {val} RLIKE {sql_lit(IRI_VALID_RE)} THEN {val} END"
        return f"concat('<', {val}, '>')"

    if tm.term_type == "bnode":
        return f"concat('_:', regexp_replace({raw}, '[^A-Za-z0-9]', '_'))"

    # literal
    datatype = tm.datatype
    if (datatype is None and not tm.language and tm.language_map is None
            and ctx.infer_literal_datatypes):
        # PyRML.INFER_LITERAL_DATATYPES (reference default False,
        # pyrml_api.py:705; typing at pyrml_core.py:277-287: rdflib
        # Literal(native_value) → xsd type from the Python type,
        # np.datetime64 → xsd:dateTime). Here the SOURCE column's Spark
        # type plays the Python type's role — all-string sources (CSV,
        # like the reference's dtype=str reads) stay plain; JSON/parquet
        # native scalars get typed.
        datatype = infer_datatype_for(ctx, tm)
    lex = raw
    if datatype:
        lex = canonicalize_datatype(lex, datatype)
    quoted = f"concat({_DQ}, {nt_escape(lex)}, {_DQ})"
    if tm.language:
        return f"concat({quoted}, {sql_lit('@' + tm.language)})"
    if tm.language_map is not None:
        lang = raw_value(ctx, tm.language_map)
        return (f"CASE WHEN {lang} IS NOT NULL AND {lang} RLIKE "
                f"{sql_lit(LANG_VALID_RE)} THEN concat({quoted}, '@', {lang}) END")
    if datatype and datatype != XSD + "string":
        return f"concat({quoted}, {sql_lit('^^<' + datatype + '>')})"
    return quoted


def compile_term(ctx: CompileCtx, tm: TermMap) -> str:
    """TermMap → rendered N-Triples string SQL."""
    return render_value(ctx, tm, raw_value(ctx, tm))
