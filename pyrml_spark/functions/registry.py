"""FnO/GREL/IdLab function registry — the engine's UDF surface.

The reference registers ~40 Python functions keyed by function IRI with an
IRI→kwarg parameter binding (``@rml_function`` decorator,
``pyrml/functions.py:28-43``; invocation builds an arg matrix and calls the
Python function **per row**, ``pyrml_core.py:1261-1271``).

Here every function compiles to a native Spark Column expression (JVM-side,
whole-stage codegen); the term compiler materializes it as a named raw
column its SQL text refers to (``terms.with_raws``). Only genuinely
Python-bound functions (short_uuid's base57 alphabet, slugify's
transliteration) fall back to vectorized ``pandas_udf`` — never
row-at-a-time Python.

Reference bugs deliberately NOT replicated (SURVEY.md §7): ``string_substring``
reversed slice (functions.py:233), ``in_range`` int-only ``range()``
(functions.py:319), ``boolean_not`` string comparison (functions.py:349-352),
``is_null`` returning None for truthy non-Literals (functions.py:151-160).

Custom functions can be registered at runtime like the reference's
``PyRML.register_function`` (pyrml_api.py:728-729).
"""

from __future__ import annotations

import re
import uuid as _uuid
from typing import Callable, Dict, List, Optional, Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

GREL = "http://users.ugent.be/~bjdmeest/function/grel.ttl#"
IDLAB = "http://example.com/idlab/function/"
STLAB = "https://w3id.org/stlab/rml-functions.ttl#"
WHO = "https://who.int/WHO-Decision/ontology/function/"


class FunctionNotRegisteredError(KeyError):
    pass


class RegisteredFunction:
    """fun IRI + (param IRI → kwarg) binding + Column-expression builder."""

    def __init__(self, fun_id: str, builder: Callable[..., Column],
                 params: Dict[str, str]):
        self.fun_id = fun_id
        self.builder = builder
        self.params = params  # kwarg name -> param IRI

    def build_positional(self, args: Sequence[object]) -> Column:
        """Bind args in declared parameter order (%eval:% calls, T14)."""
        names = list(self.params)
        kwargs: Dict[str, object] = {}
        for i, col in enumerate(args):
            if i < len(names):
                kwargs[names[i]] = col
            elif names:
                last = names[-1]
                prev = kwargs[last]
                kwargs[last] = (prev if isinstance(prev, list)
                                else [prev]) + [col]
        return self.builder(**kwargs)

    def build(self, args: Sequence[tuple]) -> Column:
        """args: sequence of (param_iri, Column). Repeated param IRIs collect
        into a list kwarg (GREL list params like p_array_a)."""
        iri_to_kw = {v: k for k, v in self.params.items()}
        kwargs: Dict[str, object] = {}
        for iri, col in args:
            kw = iri_to_kw.get(iri)
            if kw is None:
                # tolerate unknown param IRIs positionally (reference binds
                # strictly; mappings in the wild sometimes use variant IRIs)
                unused = [k for k in self.params if k not in kwargs]
                if not unused:
                    continue
                kw = unused[0]
            if kw in kwargs:
                prev = kwargs[kw]
                kwargs[kw] = (prev if isinstance(prev, list) else [prev]) + [col]
            else:
                kwargs[kw] = col
        return self.builder(**kwargs)


class FunctionRegistry:
    def __init__(self):
        self._fns: Dict[str, RegisteredFunction] = {}

    def register(self, fun_id: str, builder: Callable[..., Column],
                 **params: str) -> None:
        self._fns[fun_id] = RegisteredFunction(fun_id, builder, params)

    def unregister(self, fun_id: str) -> None:
        self._fns.pop(fun_id, None)

    def has(self, fun_id: str) -> bool:
        return fun_id in self._fns

    def get(self, fun_id: str) -> RegisteredFunction:
        if fun_id not in self._fns:
            raise FunctionNotRegisteredError(fun_id)
        return self._fns[fun_id]

    def resolve(self, name: str) -> RegisteredFunction:
        """Lookup by exact id, else by IRI local name (for %eval:% short
        names — the reference resolves eval names against its registry,
        pyrml_api.py:562-568)."""
        if name in self._fns:
            return self._fns[name]
        matches = [
            f for iri, f in self._fns.items()
            if iri.rsplit("#", 1)[-1].rsplit("/", 1)[-1] == name
        ]
        if len(matches) == 1:
            return matches[0]
        if not matches:
            raise FunctionNotRegisteredError(name)
        raise FunctionNotRegisteredError(
            f"ambiguous %eval% function name {name!r}"
        )

    def register_python(self, fun_id: str, f: Callable,
                        return_type: str = "string") -> None:
        """Runtime registration of a plain Python callable (parity with
        PyRML.register_function, pyrml_api.py:728-729). Wrapped as an
        Arrow-batched pandas UDF — vectorized transport, per-element apply."""
        spark_t = getattr(T, "StringType")() if return_type == "string" else \
            T._parse_datatype_string(return_type)

        def builder(*cols, **kwcols):
            args = list(cols) + list(kwcols.values())

            @F.pandas_udf(spark_t)
            def udf(*series: pd.Series) -> pd.Series:
                return pd.Series(
                    [f(*vals) for vals in zip(*series)]
                )

            return udf(*[c.cast("string") if hasattr(c, "cast") else F.lit(c)
                         for c in args])

        # accept any positional arity: params map is synthesized lazily
        rf = RegisteredFunction(fun_id, builder, {})
        rf.build_positional = lambda args: builder(*args)  # type: ignore
        rf.build = lambda args: builder(*[c for _, c in args])  # type: ignore
        self._fns[fun_id] = rf

    def compile_call(self, ctx, call) -> Column:
        """FunctionCall IR → Column. Param term maps compile to raw values:
        ``F.expr`` over their SQL, constants as ``const_lit``."""
        from ..terms import raw_column

        fn = self.get(call.function_iri)
        args = [(iri, raw_column(ctx, tm)) for iri, tm in call.params]
        return fn.build(args)


# ---------------------------------------------------------------------------
# builders
# ---------------------------------------------------------------------------

def _num(c: Column) -> Column:
    return c.cast("double")


def _bool(c: Column) -> Column:
    """GREL booleans travel as 'true'/'false' strings through term maps."""
    return F.when(F.lower(c.cast("string")) == "true", F.lit(True)).otherwise(
        F.when(F.lower(c.cast("string")) == "false", F.lit(False))
    )


def _as_list(v) -> list:
    return v if isinstance(v, list) else [v]


# strptime → java.time pattern translation for normalizeDate*. Numeric
# fields use single-letter tokens: Python's %d/%m accept 1- or 2-digit
# values ('3. Oktober') while java.time's dd/MM are strictly 2-digit —
# single letters parse both widths.
_STRPTIME_MAP = [
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "M"), ("%d", "d"),
    ("%H", "H"), ("%I", "h"), ("%M", "m"), ("%S", "s"),
    ("%f", "SSSSSS"), ("%B", "MMMM"), ("%b", "MMM"), ("%A", "EEEE"),
    ("%a", "EEE"), ("%p", "a"), ("%z", "Z"), ("%j", "DDD"), ("%%", "%"),
]


def _strptime_translate(pattern: str, table) -> str:
    """Tokenize a strptime pattern into %X directives (mapped via table) and
    literal text. Literal LETTER runs are single-quoted — java.time treats
    every unquoted ASCII letter as a (possibly week-based) pattern letter, so
    an unquoted connective like Catalan/Spanish 'de' ("%d de %B %Y") reads as
    day-of-year + local-day-of-week 'e' and throws DATETIME_WEEK_BASED_PATTERN.
    Non-ASCII literals (CJK 年月日 …) are quoted too — harmless and uniform."""
    mapping = dict(table)
    out, i, n = [], 0, len(pattern)
    while i < n:
        tok = pattern[i:i + 2]
        if pattern[i] == "%":
            if tok in mapping:
                out.append(mapping[tok])
                i += 2
                continue
            if len(tok) == 2 and tok[1].isalpha():
                # Python strptime raises on directives it does not know;
                # silently quoting '%e' as literal text would mis-parse
                # (ADVICE r6) — fail loudly like the rest of the grammar.
                raise ValueError(
                    f"unsupported strptime directive {tok!r} in "
                    f"{pattern!r} (supported: "
                    f"{' '.join(k for k, _ in table)})")
            out.append("%")  # lone/trailing '%' before a non-letter
            i += 1
        elif pattern[i] == "'":
            out.append("''")
            i += 1
        elif pattern[i].isalpha():
            j = i
            while j < n and pattern[j].isalpha():
                j += 1
            out.append("'" + pattern[i:j] + "'")
            i = j
        else:
            out.append(pattern[i])
            i += 1
    return "".join(out)


def strptime_to_java(pattern: str) -> str:
    return _strptime_translate(pattern, _STRPTIME_MAP)


# strict two-digit (java-default) widths — used as a fallback when numeric
# tokens are ADJACENT in the strptime pattern (e.g. %Y%m%d): the flexible
# single-letter translation 'yyyyMd' parses greedily and rejects '20200102',
# where Python's strptime (bounded-width regex with backtracking) accepts it.
_STRPTIME_FIXED_MAP = [
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"),
    ("%H", "HH"), ("%I", "hh"), ("%M", "mm"), ("%S", "ss"),
    ("%f", "SSSSSS"), ("%B", "MMMM"), ("%b", "MMM"), ("%A", "EEEE"),
    ("%a", "EEE"), ("%p", "a"), ("%z", "Z"), ("%j", "DDD"), ("%%", "%"),
]

_NUMERIC_ADJACENT_RE = re.compile(r"(?:%[YymdHIMSj]){2}")


def strptime_to_java_fixed(pattern: str) -> str:
    return _strptime_translate(pattern, _STRPTIME_FIXED_MAP)


def _const_str(col: Column) -> Optional[str]:
    """The Python constant carried through the IR by terms.const_lit (set on
    constant term maps and %eval:% literals) — needed where Spark requires a
    non-Column argument. No private Column API involved (round-1 ADVICE:
    _jc.toString() breaks under Spark Connect)."""
    from ..terms import const_value

    v = const_value(col)
    return None if v is None else str(v)


# month / abbreviated-month / weekday names for the locales the reference's
# test corpus and docs exercise (public calendar data). Keys are primary
# language subtags; weekday names are stripped (redundant for the parse).
_LOCALE_TABLES = {
    "it": {
        "months": ["gennaio", "febbraio", "marzo", "aprile", "maggio",
                   "giugno", "luglio", "agosto", "settembre", "ottobre",
                   "novembre", "dicembre"],
        "months_abbr": ["gen", "feb", "mar", "apr", "mag", "giu", "lug",
                        "ago", "set", "ott", "nov", "dic"],
        "days": ["lunedì", "martedì", "mercoledì", "giovedì", "venerdì",
                 "sabato", "domenica"],
    },
    "fr": {
        "months": ["janvier", "février", "mars", "avril", "mai", "juin",
                   "juillet", "août", "septembre", "octobre", "novembre",
                   "décembre"],
        "months_abbr": ["janv", "févr", "mars", "avr", "mai", "juin", "juil",
                        "août", "sept", "oct", "nov", "déc"],
        "days": ["lundi", "mardi", "mercredi", "jeudi", "vendredi", "samedi",
                 "dimanche"],
    },
    "de": {
        "months": ["Januar", "Februar", "März", "April", "Mai", "Juni",
                   "Juli", "August", "September", "Oktober", "November",
                   "Dezember"],
        "months_abbr": ["Jan", "Feb", "Mär", "Apr", "Mai", "Jun", "Jul",
                        "Aug", "Sep", "Okt", "Nov", "Dez"],
        "days": ["Montag", "Dienstag", "Mittwoch", "Donnerstag", "Freitag",
                 "Samstag", "Sonntag"],
    },
    "es": {
        "months": ["enero", "febrero", "marzo", "abril", "mayo", "junio",
                   "julio", "agosto", "septiembre", "octubre", "noviembre",
                   "diciembre"],
        "months_abbr": ["ene", "feb", "mar", "abr", "may", "jun", "jul",
                        "ago", "sep", "oct", "nov", "dic"],
        "days": ["lunes", "martes", "miércoles", "jueves", "viernes",
                 "sábado", "domingo"],
    },
    "pt": {
        "months": ["janeiro", "fevereiro", "março", "abril", "maio", "junho",
                   "julho", "agosto", "setembro", "outubro", "novembro",
                   "dezembro"],
        "months_abbr": ["jan", "fev", "mar", "abr", "mai", "jun", "jul",
                        "ago", "set", "out", "nov", "dez"],
        "days": ["segunda-feira", "terça-feira", "quarta-feira",
                 "quinta-feira", "sexta-feira", "sábado", "domingo"],
    },
    "nl": {
        "months": ["januari", "februari", "maart", "april", "mei", "juni",
                   "juli", "augustus", "september", "oktober", "november",
                   "december"],
        "months_abbr": ["jan", "feb", "mrt", "apr", "mei", "jun", "jul",
                        "aug", "sep", "okt", "nov", "dec"],
        "days": ["maandag", "dinsdag", "woensdag", "donderdag", "vrijdag",
                 "zaterdag", "zondag"],
    },
    # Slavic locales inflect month names in dates ("3 января 2020" genitive
    # vs nominative "январь") — list entries may be variant lists, all
    # mapping to the same month number.
    "ru": {
        "months": [["января", "январь"], ["февраля", "февраль"],
                   ["марта", "март"], ["апреля", "апрель"], ["мая", "май"],
                   ["июня", "июнь"], ["июля", "июль"],
                   ["августа", "август"], ["сентября", "сентябрь"],
                   ["октября", "октябрь"], ["ноября", "ноябрь"],
                   ["декабря", "декабрь"]],
        "months_abbr": ["янв", "фев", "мар", "апр", "мая", "июн", "июл",
                        "авг", "сен", "окт", "ноя", "дек"],
        "days": ["понедельник", "вторник", "среда", "четверг", "пятница",
                 "суббота", "воскресенье"],
        "days_abbr": ["пн", "вт", "ср", "чт", "пт", "сб", "вс"],
    },
    "sv": {
        "months": ["januari", "februari", "mars", "april", "maj", "juni",
                   "juli", "augusti", "september", "oktober", "november",
                   "december"],
        "months_abbr": ["jan", "feb", "mars", "apr", "maj", "juni", "juli",
                        "aug", "sep", "okt", "nov", "dec"],
        "days": ["måndag", "tisdag", "onsdag", "torsdag", "fredag",
                 "lördag", "söndag"],
    },
    "pl": {
        "months": [["stycznia", "styczeń"], ["lutego", "luty"],
                   ["marca", "marzec"], ["kwietnia", "kwiecień"],
                   ["maja", "maj"], ["czerwca", "czerwiec"],
                   ["lipca", "lipiec"], ["sierpnia", "sierpień"],
                   ["września", "wrzesień"],
                   ["października", "październik"],
                   ["listopada", "listopad"], ["grudnia", "grudzień"]],
        "months_abbr": ["sty", "lut", "mar", "kwi", "maj", "cze", "lip",
                        "sie", "wrz", "paź", "lis", "gru"],
        "days": ["poniedziałek", "wtorek", "środa", "czwartek", "piątek",
                 "sobota", "niedziela"],
        "days_abbr": ["pon", "wt", "śr", "czw", "pt", "sob", "niedz"],
    },
    "da": {
        "months": ["januar", "februar", "marts", "april", "maj", "juni",
                   "juli", "august", "september", "oktober", "november",
                   "december"],
        "months_abbr": ["jan", "feb", "mar", "apr", "maj", "jun", "jul",
                        "aug", "sep", "okt", "nov", "dec"],
        "days": ["mandag", "tirsdag", "onsdag", "torsdag", "fredag",
                 "lørdag", "søndag"],
    },
    # Finnish dates use the partitive ("3. tammikuuta 2020") — variant
    # lists like the Slavic genitive handling above
    "fi": {
        "months": [["tammikuuta", "tammikuu"], ["helmikuuta", "helmikuu"],
                   ["maaliskuuta", "maaliskuu"], ["huhtikuuta", "huhtikuu"],
                   ["toukokuuta", "toukokuu"], ["kesäkuuta", "kesäkuu"],
                   ["heinäkuuta", "heinäkuu"], ["elokuuta", "elokuu"],
                   ["syyskuuta", "syyskuu"], ["lokakuuta", "lokakuu"],
                   ["marraskuuta", "marraskuu"], ["joulukuuta", "joulukuu"]],
        "months_abbr": ["tammi", "helmi", "maalis", "huhti", "touko",
                        "kesä", "heinä", "elo", "syys", "loka", "marras",
                        "joulu"],
        "days": ["maanantai", "tiistai", "keskiviikko", "torstai",
                 "perjantai", "lauantai", "sunnuntai"],
        "days_abbr": ["ma", "ti", "ke", "to", "pe", "la", "su"],
    },
    "cs": {
        "months": [["ledna", "leden"], ["února", "únor"],
                   ["března", "březen"], ["dubna", "duben"],
                   ["května", "květen"], ["června", "červen"],
                   ["července", "červenec"], ["srpna", "srpen"],
                   ["září"], ["října", "říjen"],
                   ["listopadu", "listopad"], ["prosince", "prosinec"]],
        "months_abbr": ["led", "úno", "bře", "dub", "kvě", "čvn", "čvc",
                        "srp", "zář", "říj", "lis", "pro"],
        "days": ["pondělí", "úterý", "středa", "čtvrtek", "pátek",
                 "sobota", "neděle"],
        "days_abbr": ["po", "út", "st", "čt", "pá", "so", "ne"],
    },
    "tr": {
        "months": ["ocak", "şubat", "mart", "nisan", "mayıs", "haziran",
                   "temmuz", "ağustos", "eylül", "ekim", "kasım", "aralık"],
        "months_abbr": ["oca", "şub", "mar", "nis", "may", "haz", "tem",
                        "ağu", "eyl", "eki", "kas", "ara"],
        "days": ["pazartesi", "salı", "çarşamba", "perşembe", "cuma",
                 "cumartesi", "pazar"],
        "days_abbr": ["pzt", "sal", "çar", "per", "cum", "cmt", "paz"],
    },
    # Greek dates use the genitive ("3 Ιανουαρίου 2020") — variant lists
    # like the Slavic/Finnish handling above
    "el": {
        "months": [["ιανουαρίου", "ιανουάριος"],
                   ["φεβρουαρίου", "φεβρουάριος"],
                   ["μαρτίου", "μάρτιος"], ["απριλίου", "απρίλιος"],
                   ["μαΐου", "μάιος"], ["ιουνίου", "ιούνιος"],
                   ["ιουλίου", "ιούλιος"], ["αυγούστου", "αύγουστος"],
                   ["σεπτεμβρίου", "σεπτέμβριος"],
                   ["οκτωβρίου", "οκτώβριος"],
                   ["νοεμβρίου", "νοέμβριος"],
                   ["δεκεμβρίου", "δεκέμβριος"]],
        "months_abbr": ["ιαν", "φεβ", "μαρ", "απρ", "μαΐ", "ιουν", "ιουλ",
                        "αυγ", "σεπ", "οκτ", "νοε", "δεκ"],
        "days": ["δευτέρα", "τρίτη", "τετάρτη", "πέμπτη", "παρασκευή",
                 "σάββατο", "κυριακή"],
        "days_abbr": ["δευ", "τρί", "τετ", "πέμ", "παρ", "σάβ", "κυρ"],
    },
    # CJK locales: month "names" are numeral+marker (CLDR ja/ko '1月'/'1월',
    # zh also hanzi-numeral 一月); no word boundaries (see
    # _localize_to_numeric)
    "ja": {
        "cjk": True,
        "months": [f"{i}月" for i in range(1, 13)],
        "months_abbr": [f"{i}月" for i in range(1, 13)],
        "days": ["月曜日", "火曜日", "水曜日", "木曜日", "金曜日",
                 "土曜日", "日曜日"],
        "days_abbr": ["月", "火", "水", "木", "金", "土", "日"],
    },
    "zh": {
        "cjk": True,
        "months": [["一月", "1月"], ["二月", "2月"], ["三月", "3月"],
                   ["四月", "4月"], ["五月", "5月"], ["六月", "6月"],
                   ["七月", "7月"], ["八月", "8月"], ["九月", "9月"],
                   ["十月", "10月"], ["十一月", "11月"], ["十二月", "12月"]],
        "months_abbr": [f"{i}月" for i in range(1, 13)],
        "days": ["星期一", "星期二", "星期三", "星期四", "星期五",
                 "星期六", "星期日"],
        "days_abbr": ["周一", "周二", "周三", "周四", "周五", "周六",
                      "周日"],
    },
    "ko": {
        "cjk": True,
        "months": [f"{i}월" for i in range(1, 13)],
        "months_abbr": [f"{i}월" for i in range(1, 13)],
        "days": ["월요일", "화요일", "수요일", "목요일", "금요일",
                 "토요일", "일요일"],
        "days_abbr": ["월", "화", "수", "목", "금", "토", "일"],
    },
    # r6 tier (public CLDR calendar data). Ukrainian inflects like Russian
    # (genitive in dates, nominative standalone) — variant lists.
    "uk": {
        "months": [["січня", "січень"], ["лютого", "лютий"],
                   ["березня", "березень"], ["квітня", "квітень"],
                   ["травня", "травень"], ["червня", "червень"],
                   ["липня", "липень"], ["серпня", "серпень"],
                   ["вересня", "вересень"], ["жовтня", "жовтень"],
                   ["листопада", "листопад"], ["грудня", "грудень"]],
        "months_abbr": ["січ", "лют", "бер", "кві", "тра", "чер", "лип",
                        "сер", "вер", "жов", "лис", "гру"],
        "days": ["понеділок", "вівторок", "середа", "четвер", "п'ятниця",
                 "субота", "неділя"],
        "days_abbr": ["пн", "вт", "ср", "чт", "пт", "сб", "нд"],
    },
    "ro": {
        "months": ["ianuarie", "februarie", "martie", "aprilie", "mai",
                   "iunie", "iulie", "august", "septembrie", "octombrie",
                   "noiembrie", "decembrie"],
        "months_abbr": ["ian", "feb", "mar", "apr", "mai", "iun", "iul",
                        "aug", "sept", "oct", "nov", "dec"],
        "days": ["luni", "marți", "miercuri", "joi", "vineri", "sâmbătă",
                 "duminică"],
    },
    "hu": {
        "months": ["január", "február", "március", "április", "május",
                   "június", "július", "augusztus", "szeptember", "október",
                   "november", "december"],
        "months_abbr": ["jan", "febr", "márc", "ápr", "máj", "jún", "júl",
                        "aug", "szept", "okt", "nov", "dec"],
        "days": ["hétfő", "kedd", "szerda", "csütörtök", "péntek",
                 "szombat", "vasárnap"],
        "days_abbr": ["H", "K", "Sze", "Cs", "P", "Szo", "V"],
    },
    # Norwegian: month names are identical in bokmål and nynorsk; the days
    # alternation carries BOTH weekday sets (nynorsk måndag/tysdag/laurdag/
    # sundag) so either strips cleanly
    "nb": {
        "months": ["januar", "februar", "mars", "april", "mai", "juni",
                   "juli", "august", "september", "oktober", "november",
                   "desember"],
        "months_abbr": ["jan", "feb", "mar", "apr", "mai", "jun", "jul",
                        "aug", "sep", "okt", "nov", "des"],
        "days": ["mandag", "tirsdag", "onsdag", "torsdag", "fredag",
                 "lørdag", "søndag", "måndag", "tysdag", "laurdag",
                 "sundag"],
    },
    "ca": {
        "months": ["gener", "febrer", "març", "abril", "maig", "juny",
                   "juliol", "agost", "setembre", "octubre", "novembre",
                   "desembre"],
        "months_abbr": ["gen", "febr", "març", "abr", "maig", "juny", "jul",
                        "ag", "set", "oct", "nov", "des"],
        "days": ["dilluns", "dimarts", "dimecres", "dijous", "divendres",
                 "dissabte", "diumenge"],
        "days_abbr": ["dl", "dt", "dc", "dj", "dv", "ds", "dg"],
    },
    "id": {
        "months": ["Januari", "Februari", "Maret", "April", "Mei", "Juni",
                   "Juli", "Agustus", "September", "Oktober", "November",
                   "Desember"],
        "months_abbr": ["Jan", "Feb", "Mar", "Apr", "Mei", "Jun", "Jul",
                        "Agu", "Sep", "Okt", "Nov", "Des"],
        "days": ["Senin", "Selasa", "Rabu", "Kamis", "Jumat", "Sabtu",
                 "Minggu"],
    },
    # Arabic: two Gregorian naming systems in wide use — transliterated
    # (Egypt/Gulf, CLDR ar) and Classical/Levantine (CLDR ar-SY) — variant
    # lists accept both; no standard abbreviations, so months_abbr reuses
    # the transliterated names. (?U)\b treats Arabic letters as word chars.
    "ar": {
        "months": [["يناير", "كانون الثاني"], ["فبراير", "شباط"],
                   ["مارس", "آذار"], ["أبريل", "نيسان"], ["مايو", "أيار"],
                   ["يونيو", "حزيران"], ["يوليو", "تموز"], ["أغسطس", "آب"],
                   ["سبتمبر", "أيلول"], ["أكتوبر", "تشرين الأول"],
                   ["نوفمبر", "تشرين الثاني"], ["ديسمبر", "كانون الأول"]],
        "months_abbr": ["يناير", "فبراير", "مارس", "أبريل", "مايو", "يونيو",
                        "يوليو", "أغسطس", "سبتمبر", "أكتوبر", "نوفمبر",
                        "ديسمبر"],
        "days": ["الاثنين", "الثلاثاء", "الأربعاء", "الخميس", "الجمعة",
                 "السبت", "الأحد"],
        # Arabic has no standard weekday abbreviations — %a accepts the
        # full names (a [:3] truncation would strip a garbage prefix)
        "days_abbr": ["الاثنين", "الثلاثاء", "الأربعاء", "الخميس",
                      "الجمعة", "السبت", "الأحد"],
    },
    # r6 tier 2 (public CLDR calendar data)
    "cs": {
        "months": [["ledna", "leden"], ["února", "únor"],
                   ["března", "březen"], ["dubna", "duben"],
                   ["května", "květen"], ["června", "červen"],
                   ["července", "červenec"], ["srpna", "srpen"],
                   ["září", "září"], ["října", "říjen"],
                   ["listopadu", "listopad"], ["prosince", "prosinec"]],
        "months_abbr": ["led", "úno", "bře", "dub", "kvě", "čvn", "čvc",
                        "srp", "zář", "říj", "lis", "pro"],
        "days": ["pondělí", "úterý", "středa", "čtvrtek", "pátek",
                 "sobota", "neděle"],
        "days_abbr": ["po", "út", "st", "čt", "pá", "so", "ne"],
    },
    "da": {
        "months": ["januar", "februar", "marts", "april", "maj", "juni",
                   "juli", "august", "september", "oktober", "november",
                   "december"],
        "months_abbr": ["jan", "feb", "mar", "apr", "maj", "jun", "jul",
                        "aug", "sep", "okt", "nov", "dec"],
        "days": ["mandag", "tirsdag", "onsdag", "torsdag", "fredag",
                 "lørdag", "søndag"],
    },
    # Finnish dates use the partitive (3. tammikuuta 2020); nominative as
    # variant. The abbr forms are the CLDR stand-alone stems.
    "fi": {
        "months": [["tammikuuta", "tammikuu"], ["helmikuuta", "helmikuu"],
                   ["maaliskuuta", "maaliskuu"], ["huhtikuuta", "huhtikuu"],
                   ["toukokuuta", "toukokuu"], ["kesäkuuta", "kesäkuu"],
                   ["heinäkuuta", "heinäkuu"], ["elokuuta", "elokuu"],
                   ["syyskuuta", "syyskuu"], ["lokakuuta", "lokakuu"],
                   ["marraskuuta", "marraskuu"], ["joulukuuta", "joulukuu"]],
        "months_abbr": ["tammi", "helmi", "maalis", "huhti", "touko",
                        "kesä", "heinä", "elo", "syys", "loka", "marras",
                        "joulu"],
        "days": ["maanantai", "tiistai", "keskiviikko", "torstai",
                 "perjantai", "lauantai", "sunnuntai"],
        "days_abbr": ["ma", "ti", "ke", "to", "pe", "la", "su"],
    },
    "bg": {
        "months": ["януари", "февруари", "март", "април", "май", "юни",
                   "юли", "август", "септември", "октомври", "ноември",
                   "декември"],
        "months_abbr": ["яну", "фев", "март", "апр", "май", "юни", "юли",
                        "авг", "сеп", "окт", "ное", "дек"],
        "days": ["понеделник", "вторник", "сряда", "четвъртък", "петък",
                 "събота", "неделя"],
        "days_abbr": ["пн", "вт", "ср", "чт", "пт", "сб", "нд"],
    },
    # Croatian inflects (genitive in dates) — variant lists like uk/cs
    "hr": {
        "months": [["siječnja", "siječanj"], ["veljače", "veljača"],
                   ["ožujka", "ožujak"], ["travnja", "travanj"],
                   ["svibnja", "svibanj"], ["lipnja", "lipanj"],
                   ["srpnja", "srpanj"], ["kolovoza", "kolovoz"],
                   ["rujna", "rujan"], ["listopada", "listopad"],
                   ["studenoga", "studenog", "studeni"],
                   ["prosinca", "prosinac"]],
        "months_abbr": ["sij", "velj", "ožu", "tra", "svi", "lip", "srp",
                        "kol", "ruj", "lis", "stu", "pro"],
        "days": ["ponedjeljak", "utorak", "srijeda", "četvrtak", "petak",
                 "subota", "nedjelja"],
    },
    # Hebrew: transliterated Gregorian names; weekday names without the
    # 'יום ' prefix (it is literal text in the format when present).
    # Hebrew letters are (?U)\b word chars, so boundaries anchor cleanly.
    "he": {
        "months": ["ינואר", "פברואר", "מרץ", "אפריל", "מאי", "יוני",
                   "יולי", "אוגוסט", "ספטמבר", "אוקטובר", "נובמבר",
                   "דצמבר"],
        "months_abbr": ["ינו", "פבר", "מרץ", "אפר", "מאי", "יונ", "יול",
                        "אוג", "ספט", "אוק", "נוב", "דצמ"],
        "days": ["שני", "שלישי", "רביעי", "חמישי", "שישי", "שבת",
                 "ראשון"],
        # CLDR he abbreviations are 'יום X׳' forms; %a accepts the bare
        # full names instead ([:3] truncation would mangle them)
        "days_abbr": ["שני", "שלישי", "רביעי", "חמישי", "שישי", "שבת",
                      "ראשון"],
    },
    "hi": {
        "months": ["जनवरी", "फ़रवरी", "मार्च", "अप्रैल", "मई", "जून",
                   "जुलाई", "अगस्त", "सितंबर", "अक्टूबर", "नवंबर",
                   "दिसंबर"],
        "months_abbr": ["जन", "फ़र", "मार्च", "अप्रै", "मई", "जून", "जुल",
                        "अग", "सित", "अक्टू", "नव", "दिस"],
        "days": ["सोमवार", "मंगलवार", "बुधवार", "गुरुवार", "शुक्रवार",
                 "शनिवार", "रविवार"],
        "days_abbr": ["सोम", "मंगल", "बुध", "गुरु", "शुक्र", "शनि", "रवि"],
    },
    # r6 tier 3 (public CLDR calendar data); lv/lt inflect in dates
    # (locative/genitive) — variant lists like uk/cs/hr
    "sl": {
        "months": ["januar", "februar", "marec", "april", "maj", "junij",
                   "julij", "avgust", "september", "oktober", "november",
                   "december"],
        "months_abbr": ["jan", "feb", "mar", "apr", "maj", "jun", "jul",
                        "avg", "sep", "okt", "nov", "dec"],
        "days": ["ponedeljek", "torek", "sreda", "četrtek", "petek",
                 "sobota", "nedelja"],
    },
    "et": {
        "months": ["jaanuar", "veebruar", "märts", "aprill", "mai",
                   "juuni", "juuli", "august", "september", "oktoober",
                   "november", "detsember"],
        "months_abbr": ["jaan", "veebr", "märts", "apr", "mai", "juuni",
                        "juuli", "aug", "sept", "okt", "nov", "dets"],
        "days": ["esmaspäev", "teisipäev", "kolmapäev", "neljapäev",
                 "reede", "laupäev", "pühapäev"],
        "days_abbr": ["E", "T", "K", "N", "R", "L", "P"],
    },
    "lv": {
        "months": [["janvārī", "janvāris"], ["februārī", "februāris"],
                   ["martā", "marts"], ["aprīlī", "aprīlis"],
                   ["maijā", "maijs"], ["jūnijā", "jūnijs"],
                   ["jūlijā", "jūlijs"], ["augustā", "augusts"],
                   ["septembrī", "septembris"], ["oktobrī", "oktobris"],
                   ["novembrī", "novembris"], ["decembrī", "decembris"]],
        "months_abbr": ["janv", "febr", "marts", "apr", "maijs", "jūn",
                        "jūl", "aug", "sept", "okt", "nov", "dec"],
        "days": ["pirmdiena", "otrdiena", "trešdiena", "ceturtdiena",
                 "piektdiena", "sestdiena", "svētdiena"],
        "days_abbr": ["pirmd", "otrd", "trešd", "ceturtd", "piektd", "sestd", "svētd"],
    },
    "lt": {
        "months": [["sausio", "sausis"], ["vasario", "vasaris"],
                   ["kovo", "kovas"], ["balandžio", "balandis"],
                   ["gegužės", "gegužė"], ["birželio", "birželis"],
                   ["liepos", "liepa"], ["rugpjūčio", "rugpjūtis"],
                   ["rugsėjo", "rugsėjis"], ["spalio", "spalis"],
                   ["lapkričio", "lapkritis"], ["gruodžio", "gruodis"]],
        "months_abbr": ["saus", "vas", "kov", "bal", "geg", "birž",
                        "liep", "rugp", "rugs", "spal", "lapkr", "gruod"],
        "days": ["pirmadienis", "antradienis", "trečiadienis",
                 "ketvirtadienis", "penktadienis", "šeštadienis",
                 "sekmadienis"],
        "days_abbr": ["pr", "an", "tr", "kt", "pn", "št", "sk"],
    },
    # Vietnamese numbers its months ('tháng 1' … 'tháng 12'); the
    # longest-first replacement keeps 'tháng 1' from eating 'tháng 11'
    "vi": {
        "months": ["tháng 1", "tháng 2", "tháng 3", "tháng 4", "tháng 5",
                   "tháng 6", "tháng 7", "tháng 8", "tháng 9", "tháng 10",
                   "tháng 11", "tháng 12"],
        "months_abbr": ["thg 1", "thg 2", "thg 3", "thg 4", "thg 5",
                        "thg 6", "thg 7", "thg 8", "thg 9", "thg 10",
                        "thg 11", "thg 12"],
        "days": ["thứ Hai", "thứ Ba", "thứ Tư", "thứ Năm", "thứ Sáu",
                 "thứ Bảy", "Chủ Nhật"],
        "days_abbr": ["Th 2", "Th 3", "Th 4", "Th 5", "Th 6", "Th 7", "CN"],
    },
    # r7 tier (public CLDR calendar data). Slovak/Serbian dates use the
    # genitive (listed first); Serbian carries Cyrillic AND Latin
    # alternates in one table (both orthographies are standard).
    "sk": {
        "months": [["januára", "január"], ["februára", "február"],
                   ["marca", "marec"], ["apríla", "apríl"],
                   ["mája", "máj"], ["júna", "jún"], ["júla", "júl"],
                   ["augusta", "august"], ["septembra", "september"],
                   ["októbra", "október"], ["novembra", "november"],
                   ["decembra", "december"]],
        "months_abbr": ["jan", "feb", "mar", "apr", "máj", "jún", "júl",
                        "aug", "sep", "okt", "nov", "dec"],
        "days": ["pondelok", "utorok", "streda", "štvrtok", "piatok",
                 "sobota", "nedeľa"],
        "days_abbr": ["po", "ut", "st", "št", "pi", "so", "ne"],
    },
    "sr": {
        "months": [["јануара", "јануар", "januara", "januar"],
                   ["фебруара", "фебруар", "februara", "februar"],
                   ["марта", "март", "marta", "mart"],
                   ["априла", "април", "aprila", "april"],
                   ["маја", "мај", "maja", "maj"],
                   ["јуна", "јун", "juna", "jun"],
                   ["јула", "јул", "jula", "jul"],
                   ["августа", "август", "avgusta", "avgust"],
                   ["септембра", "септембар", "septembra", "septembar"],
                   ["октобра", "октобар", "oktobra", "oktobar"],
                   ["новембра", "новембар", "novembra", "novembar"],
                   ["децембра", "децембар", "decembra", "decembar"]],
        "months_abbr": ["јан", "феб", "мар", "апр", "мај", "јун", "јул",
                        "авг", "сеп", "окт", "нов", "дец"],
        "days": ["понедељак", "уторак", "среда", "четвртак", "петак",
                 "субота", "недеља",
                 "ponedeljak", "utorak", "sreda", "četvrtak", "petak",
                 "subota", "nedelja"],
        "days_abbr": ["пон", "уто", "сре", "чет", "пет", "суб", "нед",
                      "pon", "uto", "sre", "čet", "pet", "sub", "ned"],
    },
    # Thai month names are unambiguous; NOTE the Buddhist-era caveat: a
    # Thai-language year is often BE (CE+543) and this function does NOT
    # rescale years — that is the caller's semantic, same as the
    # reference's OS-locale strptime.
    "th": {
        "cjk": True,  # no (?U)\b word boundaries in Thai script either
        "months": ["มกราคม", "กุมภาพันธ์", "มีนาคม", "เมษายน", "พฤษภาคม",
                   "มิถุนายน", "กรกฎาคม", "สิงหาคม", "กันยายน", "ตุลาคม",
                   "พฤศจิกายน", "ธันวาคม"],
        "months_abbr": ["ม.ค", "ก.พ", "มี.ค", "เม.ย", "พ.ค", "มิ.ย",
                        "ก.ค", "ส.ค", "ก.ย", "ต.ค", "พ.ย", "ธ.ค"],
        "days": ["วันจันทร์", "วันอังคาร", "วันพุธ", "วันพฤหัสบดี",
                 "วันศุกร์", "วันเสาร์", "วันอาทิตย์",
                 "จันทร์", "อังคาร", "พุธ", "พฤหัสบดี", "ศุกร์", "เสาร์",
                 "อาทิตย์"],
        "days_abbr": ["จ.", "อ.", "พ.", "พฤ.", "ศ.", "ส.", "อา."],
    },
}

# 'no' (macrolanguage) and 'nn' (nynorsk) share the nb table: identical
# month names, and its days alternation already carries both weekday sets
_LOCALE_TABLES["no"] = _LOCALE_TABLES["nb"]
_LOCALE_TABLES["nn"] = _LOCALE_TABLES["nb"]


def _localize_to_numeric(col: Column, fmt: str, tbl: dict):
    """Replace locale month names in the input with zero-padded numbers
    (pattern token → %m) and strip weekday names; longest names first so a
    full name is never half-eaten by an abbreviation.

    Weekdays are stripped BEFORE month replacement and (for alphabetic
    scripts) every name regex is word-boundary anchored: where a month abbr
    collides with a weekday abbr (es 'mar' = marzo AND martes) the month
    pass would otherwise rewrite the weekday token to a number, leaving a
    stray field and a NULL parse. CJK tables set ``"cjk": True`` — Java's
    ``(?U)\\b`` sees ideographs/hangul as word chars so '年1月' has no
    boundary; those names match bare, and the single-alternation weekday
    strip below keeps a day abbr that is a SUBSTRING of a month marker
    (ja '月' in '1月', ko '월' in '1월') from eating the month token."""
    def wrap(pat: str) -> str:
        return pat if tbl.get("cjk") else f"\\b{pat}\\b"

    for tok in ("%A", "%a"):
        if tok in fmt:
            names = tbl["days"] if tok == "%A" else (
                tbl.get("days_abbr") or [d[:3] for d in tbl["days"]])
            # Anchor the strip by where the weekday token sits in the
            # FORMAT (ADVICE r3): weekday before the month ('%a %d %b') →
            # strip the FIRST occurrence in the input; weekday after the
            # month ('%d %b %Y %a') → strip the LAST. Matters when a
            # weekday name equals (es 'mar') or is contained in (ja '月',
            # ko '월') a month token — the wrong anchor eats the month and
            # the parse NULLs (dropped triple). ONE alternation over all
            # names (longest first), ONE replace: a date carries one
            # weekday, and per-name loops would let an absent name's
            # substring match fire (ja input '…1月3日 火' must not have
            # '月' stripped out of '1月').
            month_positions = [fmt.index(t) for t in ("%B", "%b", "%m")
                               if t in fmt]
            trailing = bool(month_positions) and \
                fmt.index(tok) > min(month_positions)
            alt = wrap("(?:" + "|".join(
                re.escape(n) for n in sorted(names, key=len, reverse=True))
                + ")")
            if trailing:
                # last occurrence: the match not followed by another
                col = F.regexp_replace(
                    col, f"(?iU){alt}\\.?((?:(?!{alt}).)*)$", "$1")
            else:
                # first occurrence: ^-anchored lazy prefix (no MULTILINE,
                # so the pattern matches at most once)
                col = F.regexp_replace(
                    col, f"(?iU)^((?:(?!{alt}).)*?){alt}\\.?", "$1")
            fmt = fmt.replace(tok, "")
    # month number carries a trailing space, mirrored by '%m ' in the fmt
    # (the whitespace collapse below normalizes both sides): a month name
    # adjacent to another numeric token (ja '%Y年%B%d日' → '…年013日')
    # would otherwise form a digit run neither the greedy single-letter nor
    # the fixed-width java translation can split
    if "%B" in fmt:
        flat = [(num, v)
                for num, entry in enumerate(tbl["months"], 1)
                for v in (entry if isinstance(entry, list) else [entry])]
        for num, name in sorted(flat, key=lambda kv: -len(kv[1])):
            col = F.regexp_replace(col, f"(?iU){wrap(re.escape(name))}",
                                   f"{num:02d} ")
        fmt = fmt.replace("%B", "%m ")
    if "%b" in fmt:
        for num, name in sorted(enumerate(tbl["months_abbr"], 1),
                                key=lambda kv: -len(kv[1])):
            col = F.regexp_replace(col,
                                   f"(?iU){wrap(re.escape(name))}\\.?",
                                   f"{num:02d} ")
        fmt = fmt.replace("%b", "%m ")
    # collapse whitespace runs the removals may have left, both sides
    col = F.trim(F.regexp_replace(col, r"\s+", " "))
    fmt = re.sub(r"\s+", " ", fmt).strip()
    return col, fmt


def _normalize_date(date: Column, pattern: Column, lang: Column = None,
                    to: str = "date") -> Column:
    fmt = _const_str(pattern)
    if fmt is None:
        raise ValueError("normalizeDate*: pattern must be a constant")
    java = strptime_to_java(fmt)
    ts = F.try_to_timestamp(date.cast("string"), F.lit(java))
    if _NUMERIC_ADJACENT_RE.search(fmt):
        # separator-less numeric run: coalesce over both translations so
        # '20200102' (%Y%m%d) parses via strict widths while '3.10.2020'
        # style unpadded inputs keep the flexible path — try_to_timestamp
        # makes a silent NULL otherwise (dropped triple)
        ts = F.coalesce(
            ts,
            F.try_to_timestamp(date.cast("string"),
                               F.lit(strptime_to_java_fixed(fmt))),
        )
    if to == "date":
        return F.date_format(ts, "yyyy-MM-dd")
    frac = F.date_format(ts, "SSSSSS")
    return F.concat(
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
        F.when(frac == "000000", F.lit("")).otherwise(
            F.regexp_replace(F.concat(F.lit("."), frac), r"0+$", "")
        ),
    )


@F.pandas_udf(T.StringType())
def _short_uuid_udf(s: pd.Series, n: pd.Series) -> pd.Series:
    # shortuuid.uuid(name): uuid5(NAMESPACE_DNS, name) → base57 (public algo)
    alphabet = "23456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
    pad_len = 22

    def enc(name, ln):
        if name is None:
            return None
        number = _uuid.uuid5(_uuid.NAMESPACE_DNS, str(name)).int
        digits = []
        while number:
            number, digit = divmod(number, 57)
            digits.append(alphabet[digit])
        out = "".join(digits[::-1]).rjust(pad_len, alphabet[0])
        return out[: int(ln) if ln == ln and ln is not None else 8]

    return pd.Series([enc(v, ln) for v, ln in zip(s, n)])


def default_registry() -> FunctionRegistry:
    r = FunctionRegistry()
    VP = GREL + "valueParameter"
    VP2 = GREL + "valueParameter2"
    SUB = GREL + "string_sub"
    SEP = GREL + "p_string_sep"
    ARR = GREL + "p_array_a"
    NUM = GREL + "p_dec_n"

    r.register(GREL + "toLowerCase", lambda value: F.lower(value), value=VP)
    r.register(GREL + "toUpperCase", lambda value: F.upper(value), value=VP)
    r.register(GREL + "string_toNumber",
               lambda value: _num(value), value=GREL + "p_any_e")
    # reference preserves inner caps: 'mcDonald' → 'McDonald' (functions.py:62-67)
    r.register(
        GREL + "string_toTitlecase",
        lambda value: F.array_join(
            F.transform(
                F.split(value, " "),
                lambda w: F.concat(F.upper(F.substring(w, 1, 1)),
                                   F.substring(w, 2, 1 << 30)),
            ),
            " ",
        ),
        value=VP,
    )
    r.register(GREL + "string_trim", lambda value: F.trim(value), value=VP)
    r.register(
        GREL + "array_sum",
        lambda values: F.aggregate(values, F.lit(0.0),
                                   lambda a, x: a + x.cast("double")),
        values=ARR,
    )
    r.register(IDLAB + "equal",
               lambda x, y: x.cast("string") == y.cast("string"), x=VP, y=VP2)
    r.register(IDLAB + "notEqual",
               lambda x, y: x.cast("string") != y.cast("string"), x=VP, y=VP2)
    r.register(
        IDLAB + "normalizeDate",
        lambda date, pattern: _normalize_date(date, pattern, to="date"),
        date=IDLAB + "strDate", pattern=IDLAB + "pattern",
    )
    r.register(
        IDLAB + "normalizeDateTime",
        lambda date, pattern: _normalize_date(date, pattern, to="dateTime"),
        date=IDLAB + "strDate", pattern=IDLAB + "pattern",
    )
    # WithLang variants. The reference mutates the process-global locale and
    # strptimes (functions.py:125-131) — thread-unsafe and needs OS locales.
    # Here non-English month/day names are translated JVM-side (regexp chain
    # from static tables) into numeric fields before the parse; no Python in
    # the row path, no process-global state, no OS locale dependency.
    def _norm_lang(to):
        def f(date, pattern, lang):
            lc = _const_str(lang)
            lcl = (lc or "").lower()
            # "C"/"POSIX"/"C.UTF-8" are the no-locale locales — but only as
            # exact/dotted forms: a bare startswith("c") would swallow
            # cs (Czech) and ca (Catalan)
            if (lc is None or lcl.startswith("en")
                    or lcl in ("c", "posix") or lcl.startswith("c.")):
                return _normalize_date(date, pattern, to=to)
            fmt = _const_str(pattern)
            if fmt is None:
                raise ValueError("normalizeDate*WithLang: pattern must be a "
                                 "constant")
            key = re.split(r"[-_.]", lc.lower())[0]
            tbl = _LOCALE_TABLES.get(key)
            if tbl is None:
                raise NotImplementedError(
                    f"normalizeDate*WithLang locale {lc!r} unsupported "
                    f"(tables: en, {', '.join(sorted(_LOCALE_TABLES))})"
                )
            col = date.cast("string")
            col, fmt = _localize_to_numeric(col, fmt, tbl)
            from ..terms import const_lit

            return _normalize_date(col, const_lit(fmt), to=to)
        return f
    r.register(IDLAB + "normalizeDateWithLang", _norm_lang("date"),
               date=IDLAB + "strDate", pattern=IDLAB + "pattern",
               lang=IDLAB + "lang")
    r.register(IDLAB + "normalizeDateTimeWithLang", _norm_lang("dateTime"),
               date=IDLAB + "strDate", pattern=IDLAB + "pattern",
               lang=IDLAB + "lang")
    r.register(
        IDLAB + "isNull",
        lambda value=None: (value.isNull() | (value.cast("string") == "nan"))
        if value is not None else F.lit(False),
        value=IDLAB + "str",
    )
    r.register(
        GREL + "boolean_and",
        lambda values: F.forall(
            F.array(*[_bool(v) for v in _as_list(values)]), lambda x: x
        ) if not isinstance(values, list) or len(values) > 0 else F.lit(True),
        values=GREL + "param_rep_b",
    )
    r.register(
        GREL + "boolean_or",
        lambda values: F.exists(
            F.array(*[_bool(v) for v in _as_list(values)]), lambda x: x
        ),
        values=GREL + "param_rep_b",
    )
    r.register(GREL + "boolean_not", lambda bool_value: ~_bool(bool_value),
               bool_value=GREL + "bool_b")
    r.register(GREL + "math_min", lambda x, y: F.least(_num(x), _num(y)),
               x=NUM, y=GREL + "param_n2")
    r.register(GREL + "math_max", lambda x, y: F.greatest(_num(x), _num(y)),
               x=NUM, y=GREL + "param_n2")
    r.register(GREL + "array_length", lambda a: F.size(a), a=ARR)
    r.register(GREL + "string_length", lambda s: F.length(s), s=VP)
    r.register(
        GREL + "controls_if",
        lambda cond, e_true, e_false=None: F.when(
            F.lower(cond.cast("string")) == "true", e_true
        ).otherwise(e_false if e_false is not None else F.lit(None)),
        cond=GREL + "bool_b", e_true=GREL + "any_true", e_false=GREL + "any_false",
    )
    r.register(GREL + "listContainsElement",
               lambda l, value: F.array_contains(l, value),
               l=IDLAB + "list", value=IDLAB + "str")
    r.register(GREL + "string_contains",
               lambda string, substring: string.contains(substring),
               string=VP, substring=SUB)
    # correct GREL semantics (0-based, [from:to)) — reference slice is
    # reversed (functions.py:233), a documented bug we do not replicate
    r.register(
        GREL + "string_substring",
        lambda valueParameter, i_from=None, i_to=None: valueParameter.substr(
            (i_from.cast("int") + 1) if i_from is not None else F.lit(1),
            ((i_to.cast("int") - (i_from.cast("int") if i_from is not None
                                  else F.lit(0)))
             if i_to is not None else F.lit(1 << 30)),
        ),
        valueParameter=VP, i_from=GREL + "p_int_i_from",
        i_to=GREL + "p_int_i_opt_to",
    )
    r.register(
        IDLAB + "concat",
        lambda string1, string2, delimiter=None: F.concat(
            string1, *([delimiter] if delimiter is not None else []), string2),
        string1=IDLAB + "str", string2=IDLAB + "otherStr",
        delimiter=IDLAB + "delimiter",
    )
    r.register(GREL + "string_replace",
               lambda string, match, replace: F.replace(string, match, replace),
               string=VP, match=GREL + "p_string_find",
               replace=GREL + "p_string_replace")
    r.register(GREL + "string_replaceChars",
               lambda string, match, replace: F.replace(string, match, replace),
               string=VP, match=GREL + "p_string_find",
               replace=GREL + "p_string_replace")
    r.register(GREL + "array_reverse", lambda arr: F.reverse(arr), arr=ARR)
    r.register(
        GREL + "string_chomp",
        lambda value, sep=None: F.replace(
            value, F.lit("\n"), sep if sep is not None else F.lit("")),
        value=VP, sep=SEP,
    )
    r.register(
        GREL + "other_coalesce",
        lambda exprs: F.coalesce(*_as_list(exprs)),
        exprs=GREL + "p_any_rep_e",
    )
    r.register(GREL + "string_endsWith",
               lambda string, end: string.endswith(end), string=VP, end=SUB)
    r.register(GREL + "string_startsWith",
               lambda string, start: string.startswith(start),
               string=VP, start=SUB)
    r.register(GREL + "string_indexOf",
               lambda string, substring: F.instr(string, substring) - 1,
               string=VP, substring=SUB)
    r.register(
        GREL + "string_lastIndexOf",
        lambda string, substring: F.when(
            F.instr(F.reverse(string), F.reverse(substring)) == 0, F.lit(-1)
        ).otherwise(
            F.length(string)
            - F.instr(F.reverse(string), F.reverse(substring))
            - F.length(substring) + 1
        ),
        string=VP, substring=SUB,
    )
    r.register(
        GREL + "array_join",
        lambda arr, separator=None: F.array_join(
            F.filter(arr, lambda x: x.isNotNull()
                     & (x.cast("string") != "nan")
                     & (x.cast("string") != "None")),
            _const_str(separator) if separator is not None else "",
        ),
        arr=ARR, separator=SEP,
    )
    # numeric in-range [from, to) — reference's range() is int-only
    # (functions.py:319), a documented bug we do not replicate
    r.register(
        IDLAB + "inRange",
        lambda test, p_from, p_to: (_num(test) >= _num(p_from))
        & (_num(test) < _num(p_to)),
        test=IDLAB + "p_test", p_from=IDLAB + "p_from", p_to=IDLAB + "p_to",
    )
    r.register(GREL + "math_exp", lambda num: F.exp(_num(num)), num=NUM)
    r.register(GREL + "math_floor", lambda num: F.floor(_num(num)), num=NUM)
    r.register(GREL + "math_round", lambda num: F.round(_num(num)), num=NUM)
    r.register(GREL + "math_ln", lambda num: F.log(_num(num)), num=NUM)
    r.register(GREL + "math_log", lambda num: F.log10(_num(num)), num=NUM)
    r.register(GREL + "math_ceil", lambda num: F.ceil(_num(num)), num=NUM)
    # non-deterministic by design — excluded from parity checks
    r.register(IDLAB + "random", lambda: F.expr("uuid()"))
    r.register(
        STLAB + "short_uuid",
        lambda string, uuid_len=None: _short_uuid_udf(
            string.cast("string"),
            (uuid_len if uuid_len is not None else F.lit(8)).cast("double"),
        ),
        string=STLAB + "in_string", uuid_len=STLAB + "uuid_len",
    )
    r.register(GREL + "string_md5", lambda value: F.md5(value.cast("string")),
               value=VP)
    r.register(GREL + "string_sha1", lambda value: F.sha1(value.cast("string")),
               value=VP)
    r.register(
        GREL + "array_slice",
        lambda arr, from_i=None, to_i=None: F.slice(
            arr,
            (from_i.cast("int") + 1) if from_i is not None else F.lit(1),
            ((to_i.cast("int") - (from_i.cast("int") if from_i is not None
                                  else F.lit(0)))
             if to_i is not None else F.size(arr)),
        ),
        arr=ARR, from_i=GREL + "param_int_i_from", to_i=GREL + "param_int_i_opt_to",
    )
    # ASCII slugify (python-slugify additionally transliterates unicode; the
    # JVM chain covers the ASCII subset — divergence documented)
    r.register(
        IDLAB + "slugify",
        lambda string: F.regexp_replace(
            F.regexp_replace(F.lower(string.cast("string")),
                             r"[^a-z0-9]+", "-"),
            r"^-+|-+$", ""),
        string=IDLAB + "str",
    )
    # the RML idiom for conditional triple emission: NULL ⇒ row dropped (D9)
    r.register(
        IDLAB + "trueCondition",
        lambda b_expr, string: F.when(
            F.lower(b_expr.cast("string")) == "true", string),
        b_expr=IDLAB + "strBoolean", string=IDLAB + "str",
    )
    r.register(
        GREL + "string_split",
        lambda value_parameter, p_string_sep: F.split(
            value_parameter,
            re.escape(_const_str(p_string_sep))
            if _const_str(p_string_sep) is not None else p_string_sep,
        ),
        value_parameter=VP, p_string_sep=SEP,
    )
    r.register(
        WHO + "local_name",
        lambda value: F.regexp_extract(value.cast("string"), r"([^/#]+)$", 1),
        value=WHO + "value",
    )
    return r
