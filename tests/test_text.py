

def test_normalize_unicode_nfc_matches_duckdb_and_composes(spark):
    """NFC parity with DuckDB's nfc_normalize on planted multi-form
    Unicode (the cross-engine contract the ASCII corpus can't exercise):
    decomposed sequences compose, already-NFC text is unchanged
    (idempotence), compatibility forms (ligatures) are NOT folded, and
    NULL passes through."""
    import duckdb

    from f1_data_engineering_machine_learning_spark.dataops.text import (
        normalize_unicode_nfc,
    )

    cases = [
        "café",          # e + combining acute -> é composed
        "café",                # already NFC
        "ﬁle",                 # ﬁ ligature: NFC keeps it (NFKC wouldn't)
        "Å",                  # A + ring -> Å
        "Á̧",       # multiple combining marks
        "plain ascii",
        None,
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = [r.n for r in normalize_unicode_nfc(df, "t", "n").orderBy("t").collect()]
    con = duckdb.connect()
    want = [
        con.sql("SELECT nfc_normalize(?) AS n", params=[c]).fetchone()[0]
        if c is not None
        else None
        for c in sorted([c for c in cases if c is not None])
    ] + [None]
    # align: Spark orderBy puts NULL first
    assert got[0] is None
    assert got[1:] == want[:-1]
    # idempotence + composition spot checks
    import unicodedata

    assert unicodedata.normalize("NFC", cases[0]) == "café"
    assert "café" in got
    assert "ﬁle" in got  # ligature untouched by NFC


def test_nfc_normalized_fixture_catalog_oracle(spark):
    """The committed-fixture NFC catalog query matches its
    DuckDB oracle cell-for-cell (the value-oracle path the driver
    runs), and the fixture genuinely exercises rewrites: at least five
    rows changed, the ligature row did not, the two mark-order rows
    converge to one NFC form, and the NULL row carries the -1
    sentinels."""
    import duckdb

    from f1_data_engineering_machine_learning_spark import catalog

    got = {
        r.id: (r.text_nfc, r.nfc_len, r.changed)
        for r in catalog.queries()["nfc_normalized_fixture"](spark, "unused").collect()
    }
    want = {
        int(i): (t, int(n), int(c))
        for i, t, n, c in duckdb.sql(
            catalog.oracle_sql()["nfc_normalized_fixture"]
        ).fetchall()
    }
    assert got == want
    assert sum(1 for _, _, c in got.values() if c == 1) >= 5
    assert got[3][2] == 0  # ligatures survive NFC
    assert got[7][0] == got[8][0] and (got[7][2], got[8][2]) == (0, 1)
    assert got[4] == (None, -1, -1)
