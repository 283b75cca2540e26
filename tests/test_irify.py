"""PyRML.IRIFY-equivalent slug path (T4, pyrml_api.py:500-538)."""

from pyspark.sql import functions as F

from pyrml_spark.terms import irify_full


def vals(spark, col, rows):
    df = spark.createDataFrame([(r,) for r in rows], ["v"])
    return [r["o"] for r in df.select(F.expr(irify_full("v")).alias("o")).collect()]


def test_irify_slugs(spark):
    got = vals(spark, "v", [
        "Côte d'Azur (FR)",
        "A  B/C--D",
        "http://already.ok/path",
        "x<y>z",
    ])
    assert got[0] == "cote_dazur_fr"
    assert got[1] == "a_b_c_d"           # spaces/slash → _, -/_ runs collapsed
    assert got[2] == "http://already.ok/path"  # URL guard: untouched
    assert got[3] == "x%3Cy%3Ez"


def test_irify_latin_extended_and_multichar(spark):
    """Round-2 broadened transliteration: Latin-Extended-A + multi-char
    expansions (reference uses unidecode, pyrml_api.py:500-538)."""
    from pyrml_spark.terms import irify_full
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Łukasz Šťastný",), ("Cæsar Œuvre",), ("straße øst",), ("Đorđe ĳs",)],
        ["v"],
    )
    got = [r["o"] for r in df.select(F.expr(irify_full("v")).alias("o")).collect()]
    assert got == ["lukasz_stastny", "caesar_oeuvre", "strasse_ost",
                   "dorde_ijs"], got


def test_irify_greek_and_cyrillic(spark):
    """Round-3: Greek + Cyrillic transliteration (unidecode's two most
    common non-Latin scripts; target strings follow unidecode's tables —
    η→e, θ→th, χ→kh, ж→zh, щ→shch, ъ/ь delete)."""
    got = vals(spark, "v", [
        "ελληνικά",            # unidecode → ellenika
        "Θεσσαλονίκη",         # → Thessalonike
        "ψυχή φως",            # → psukhe phos
        "кириллица",           # → kirillitsa
        "Москва объект",       # → Moskva obekt
        "Щедрик южный",        # → Shchedrik yuzhnyi
        "Київ Ґанок",          # uk: letter-by-letter → Kiyiv Ganok
    ])
    assert got == ["ellenika", "thessalonike", "psukhe_phos", "kirillitsa",
                   "moskva_obekt", "shchedrik_yuzhnyi", "kiyiv_ganok"], got


def test_irify_arabic(spark):
    """Round-4: Arabic transliteration (unidecode-style romanization —
    خ→kh, ش→sh, ث→th, ع/ء→' then stripped by slug punctuation removal,
    emphatics case-wash in lower(), Arabic-Indic digits → ASCII)."""
    got = vals(spark, "v", [
        "كتاب",          # kitab consonantal → ktab
        "شمس خبز",       # → shms khbz
        "عربي",          # ayn dropped → rby
        "صفر ٣٢",        # emphatic S + digits → Sfr 32 → sfr_32
    ])
    assert got == ["ktab", "shms_khbz", "rby", "sfr_32"], got


def test_irify_cjk(spark):
    """Round-5 (VERDICT r4 #5): CJK transliteration — kana by unidecode's
    per-char table, Hangul by arithmetic Revised-Romanization decomposition
    (NO table: U+AC00 offset → initial/medial/final jamo), common hanzi by
    a pinyin subset map (unidecode-style trailing space → '_'). All native
    Columns (split → transform → array_join) behind a CJK rlike guard."""
    got = vals(spark, "v", [
        "中文",        # pinyin subset: Zhong Wen
        "日本語",      # Ri Ben Yu (traditional 語 variant covered)
        "한국어",      # algorithmic Hangul → hangugeo
        "ひらがな",    # hiragana kana table
        "カタカナ",    # katakana kana table
        "きゃ",        # per-char like unidecode (kiya, not Hepburn kya)
        "コーヒー",    # long-vowel mark → '-' → collapsed
        "서울 Seoul",  # mixed Hangul + ASCII
    ])
    assert got == ["zhong_wen_", "ri_ben_yu_", "hangugeo", "hiragana",
                   "katakana", "kiya", "ko_hi", "seoul_seoul"], got


def test_irify_rare_hanzi_pass_through(spark):
    """Hanzi outside the common-subset map keep the documented pass-through
    (never mangled into a wrong romanization)."""
    got = vals(spark, "v", ["龘"])
    assert got == ["龘"], got


def test_irify_hebrew_thai_devanagari(spark):
    """r6 tier: Hebrew / Thai / Devanagari ride the same per-char map as
    the hanzi table (complete per script, unlike hanzi): consonantal
    Hebrew with niqqud deleted, Thai with tone marks deleted and Thai
    digits mapped, Devanagari with virama deleted and matras mapped."""
    got = vals(spark, "v", [
        "שלום",          # sh-l-v-m
        "שָׁלוֹם",          # same word pointed: niqqud/shin-dot delete
        "תל אביב Tel Aviv",
        "กรุงเทพ",        # k r u ng e th ph
        "๑๒๓",           # Thai digits
        "นคร",           # n kh r
        "नमस्ते",          # n m s (virama) t e
        "हिन्दी",          # h i n (virama) d ii
        "दिल्ली १२",      # city + Devanagari digits
    ])
    assert got == ["shlvm", "shlvm", "tl_byb_tel_aviv",
                   "krungethph", "123", "nkhr",
                   "nmste", "hindii", "dillii_12"], got


def test_irify_georgian_armenian(spark):
    """r6 tier: Georgian (Mkhedruli, national romanization) and Armenian
    (both cases; ev ligature) on the same per-char map."""
    got = vals(spark, "v", [
        "საქართველო",     # s a k a r t v e l o
        "თბილისი",        # t b i l i s i
        "Հայաստան",       # H a y a s t a n
        "Երևան",          # E r ev a n
        "ծով 7",          # ts o v + digit
    ])
    assert got == ["sakartvelo", "tbilisi", "hayastan",
                   "erevan", "tsov_7"], got


def test_irify_bengali(spark):
    """r6 tier: Bengali rides the Devanagari-parallel per-char map
    (virama/nukta delete, matras mapped, Bengali digits)."""
    got = vals(spark, "v", [
        "বাংলা",         # b aa n l aa
        "ঢাকা ১২",       # ddh aa k aa + digits
        "ভারত",          # bh aa r t
    ])
    assert got == ["baanlaa", "ddhaakaa_12", "bhaart"], got


def test_irify_south_indic(spark):
    """r7 tier: Tamil/Telugu/Kannada/Malayalam derived from the
    Devanagari table via the shared ISCII block layout (+ per-script
    overrides: the ṟ/ḻ/ṉ row, chillus, length marks); Sinhala by its
    own hand table. Expected strings follow the house implicit-a-
    omitted style (क→k), matching the earlier Indic tiers."""
    got = vals(spark, "v", [
        "தமிழ் நாடு",        # ta: zh override + matras + virama delete
        "சென்னை",            # ta: e-matra, ai-matra
        "తెలుగు భాష",        # te
        "హైదరాబాద్",         # te: trailing virama deletes
        "ಕನ್ನಡ ಬೆಂಗಳೂರು",    # kn: anusvara → n
        "മലയാളം കേരളം",      # ml: anusvara → m (script-specific)
        "සිංහල කොළඹ",        # si: own layout, mb prenasal
        "௨௦௨௬",              # ta digits
        "෧෯",                # si lith digits
    ])
    assert got == ["tmizh_naattu", "cennai", "telugu_bhaass",
                   "haidraabaad", "knndd_benglluuru", "mlyaallm_kerllm",
                   "sinhl_kollmb", "2026", "19"], got


def test_irify_south_indic_block_coverage():
    """Every assigned Lo/Mc/Mn/Nd codepoint in the five r7 blocks is in
    the map — the per-script completeness claim, pinned."""
    import unicodedata

    from pyrml_spark.terms import _SCRIPT_MAP

    for lo, hi in ((0x0B80, 0x0BFF), (0x0C00, 0x0C7F), (0x0C80, 0x0CFF),
                   (0x0D00, 0x0D7F), (0x0D80, 0x0DFF)):
        missing = [
            hex(cp) for cp in range(lo, hi + 1)
            if unicodedata.category(chr(cp)) in ("Lo", "Mc", "Mn", "Nd")
            and unicodedata.name(chr(cp), None)
            and chr(cp) not in _SCRIPT_MAP]
        assert not missing, (hex(lo), missing)
        # and every value is plain ASCII (slug-safe)
        assert all(
            all(ord(c) < 128 for c in v)
            for k, v in _SCRIPT_MAP.items()
            if len(k) == 1 and lo <= ord(k) <= hi)
