"""Language ID over real multilingual text (functions/lang.py).

The reference's integration crawl is seeded with Farsi URLs
(src/it/resources/farsi-seeds.txt); its Tika cascade
(parser/TikaCallable.java:241-269) must label such pages. The round-1
stopword argmax labeled everything non-en/de/es/fr as 'und' — these
cases pin the upgraded script+trigram detector.
"""

from flink_crawler_spark.functions.lang import detect_lang

SAMPLES = [
    # (id, text, expected)
    (1, "این یک متن فارسی است که برای آزمایش تشخیص زبان نوشته شده است", "fa"),
    (2, "هذا نص عربي بسيط لاختبار تحديد اللغة في النظام", "ar"),
    (3, "这是一个用于测试语言识别的中文文本系统", "zh"),
    (4, "これは言語判定のテストのための日本語の文章です", "ja"),
    (5, "이것은 언어 감지 테스트를 위한 한국어 문장입니다", "ko"),
    (6, "Это русский текст для проверки определения языка", "ru"),
    (7, "the quick brown fox jumps over the lazy dog and runs into the forest", "en"),
    (8, "der schnelle braune fuchs springt über den faulen hund und läuft in den wald", "de"),
    (9, "el rápido zorro marrón salta sobre el perro perezoso en el bosque", "es"),
    (10, "le renard brun rapide saute par dessus le chien paresseux dans la forêt", "fr"),
    (11, "", "und"),
    (12, "12345 67890 !!!", "und"),
]


def test_detect_lang_multilingual(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in SAMPLES], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["detected_lang"] for r in detect_lang(docs).collect()}
    want = {i: e for i, _, e in SAMPLES}
    assert got == want


def test_detect_lang_farsi_vs_arabic_specific_letters(spark):
    # Same Arabic script; the Persian-specific letters (پ چ ژ گ ک ی)
    # are the discriminator — reference parity for the Farsi seed crawl.
    docs = spark.createDataFrame(
        [(1, "کتابخانه پژوهش گروه"), (2, "مكتبة بحث مجموعة")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["detected_lang"] for r in detect_lang(docs).collect()}
    assert got == {1: "fa", 2: "ar"}


# r6: widened Latin-script profile table toward the Tika
# LanguageIdentifier set (parser/TikaCallable.java:241-269)
WIDE_SAMPLES = [
    (21, "det snabba bruna räven hoppar över den lata hunden och är på väg till skogen", "sv"),
    (22, "den hurtige brune ræv springer over den dovne hund og er på vej til skoven med", "da"),
    (23, "den raske brune reven hopper over den late hunden og er på vei til skogen ikke av", "no"),
    (24, "nopea ruskea kettu hyppää laiskan koiran yli ja on matkalla metsään jossa se asuu", "fi"),
    (25, "a gyors barna róka átugrik a lusta kutya felett és egy erdőbe megy hogy ott éljen", "hu"),
    (26, "szybki brązowy lis przeskakuje nad leniwym psem i jest w drodze do lasu gdzie się", "pl"),
    (27, "kiire pruun rebane hüppab üle laisa koera ja on teel metsa kus ta elab ning ei ole", "et"),
    (28, "fljóti brúni refurinn hoppar yfir lata hundinn og er á leið í skóginn sem ekki við", "is"),
    (29, "o raposo castanho rápido salta sobre o cão preguiçoso que está na floresta", "pt"),
    (30, "la volpe marrone veloce salta sopra il cane pigro che sta nella foresta", "it"),
    (31, "de snelle bruine vos springt over de luie hond en het is een bos van aar", "nl"),
]


def test_detect_lang_widened_profile_set(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in WIDE_SAMPLES], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["detected_lang"] for r in detect_lang(docs).collect()}
    want = {i: e for i, _, e in WIDE_SAMPLES}
    assert got == want


def test_profile_table_well_formed():
    from flink_crawler_spark.functions.lang import (
        LANG_PRIORITY,
        LANG_TRIGRAM_PROFILES,
    )

    assert len(LANG_TRIGRAM_PROFILES) >= 12
    for lang, grams in LANG_TRIGRAM_PROFILES.items():
        assert lang in LANG_PRIORITY
        assert len(grams) == len(set(grams)), lang
        assert all(len(g) == 3 for g in grams), lang
        assert all("'" not in g for g in grams), lang  # SQL-literal safe


# r7: within-script non-Latin profiles (round-6 verdict task 2) — the
# Tika LanguageIdentifier set discriminates WITHIN Cyrillic (ru/uk/bg);
# Greek and Thai route through the same profile join.
NONLATIN_SAMPLES = [
    (41, "Это русский текст для проверки определения языка", "ru"),
    (42, "це текст українською мовою від україни та її визначення що має працювати", "uk"),
    (43, "това е български текст за проверка на езика който се ползва от българия", "bg"),
    (44, "αυτό είναι ένα ελληνικό κείμενο για τον έλεγχο της γλώσσας και των συστημάτων", "el"),
    (45, "การทดสอบภาษาไทยของระบบและความถูกต้อง", "th"),
    # Cyrillic text hitting no profile gram must fall back to the class
    # default (ru), never 'und' or a Latin label
    (46, "ъь ъь ъь", "ru"),
]


def test_detect_lang_within_script_discrimination(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in NONLATIN_SAMPLES], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["detected_lang"] for r in detect_lang(docs).collect()}
    want = {i: e for i, _, e in NONLATIN_SAMPLES}
    assert got == want


def test_detect_lang_oracle_twin_nonlatin(duck=None):
    """The DuckDB twin must agree with Spark on the non-Latin samples —
    the shared-data guarantee the oracled doc_lang_id query relies on."""
    import duckdb

    from flink_crawler_spark.functions.lang import detect_lang_oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t, _ in NONLATIN_SAMPLES)
        + ") v(doc_id, text)"
    )
    sql = f"WITH {detect_lang_oracle_sql(table='documents').strip()} SELECT * FROM detected"
    got = dict(con.execute(sql).fetchall())
    want = {i: e for i, _, e in NONLATIN_SAMPLES}
    assert got == want


def test_detect_lang_compiles_under_whole_stage_codegen(spark):
    """Every stage of the detector fits the JVM's 64 KB method limit:
    with the interpreted fallback off, an oversized stage raises instead
    of silently running interpreted."""
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in SAMPLES + NONLATIN_SAMPLES], "doc_id long, text string"
    )
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = {r["doc_id"]: r["detected_lang"] for r in detect_lang(docs).collect()}
    finally:
        spark.conf.set(key, old)
    assert got == {i: e for i, _, e in SAMPLES + NONLATIN_SAMPLES}
