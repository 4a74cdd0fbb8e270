"""Date detection parity with reference /root/reference/libs/dates.py
(Czech month alternation even for EN, confidence 100/80, interval split)."""

from ner_spark.semantics.dates import ISODate, find_dates


def one(text):
    ds = find_dates(text)
    assert len(ds) == 1, ds
    return ds[0]


def test_iso_date_format():
    d = one("born 1999-12-28 in Prague")
    assert d.iso == ISODate(1999, 12, 28)
    assert d.iso.iso() == "1999-12-28"
    assert d.confidence == 100
    assert (d.start, d.end) == (5, 15)


def test_slash_date_dayfirst_unsure():
    d = one("on 12/11/1694 it rained")
    assert d.iso == ISODate(1694, 11, 12)  # dayfirst
    assert d.confidence == 80


def test_dotted_date():
    d = one("dne 12. 11. 1694 began")
    assert d.iso == ISODate(1694, 11, 12)
    assert d.confidence == 80


def test_bare_year_unsure():
    d = one("in 1693 the war")
    assert d.iso == ISODate(1693)
    assert d.iso.show_without_zeros() == "1693"
    assert d.confidence == 80


def test_year_interval_splits():
    ds = find_dates("reigned 1693-1734 well")
    assert len(ds) == 2
    (a, b) = ds
    assert a.iso == ISODate(1693) and b.iso == ISODate(1734)
    assert (a.source, b.source) == ("1693", "1734")
    assert (a.start, a.end) == (8, 12) and (b.start, b.end) == (13, 17)


def test_czech_month_matches():
    d = one("16. listopadu 2003 x")
    assert d.iso == ISODate(2003, 11, 16)
    assert d.confidence == 100


def test_english_month_words_not_matched():
    # EN month words are NOT in the alternation (SURVEY §1.4.6); only the
    # year matches as a bare-year pattern
    ds = find_dates("on 16 November 2003 meeting")
    assert [d.source for d in ds] == ["2003"]


def test_many_dashes_not_interval():
    ds = find_dates("code 1999-12-28 end")  # 2 dashes → not interval
    assert len(ds) == 1 and ds[0].iso == ISODate(1999, 12, 28)


def test_no_date_in_digit_run():
    assert find_dates("id 123456789 x") == []


def test_month_year_only():
    d = one("v listopad 2003 konec")
    assert d.iso == ISODate(2003, 11, 0)
    assert d.iso.show_without_zeros() == "2003-11"
    assert d.iso.iso() == "2003-11-00"


def test_anchored_scan_equals_plain_finditer():
    """The candidate-anchored scan (_scan_candidates) must reproduce the
    plain ``_ALL_RE.finditer`` sequence exactly — spans and groups."""
    import random

    from ner_spark.semantics.dates import _ALL_RE, _scan_candidates

    samples = [
        "born 12. 11. 1694 in Ulm, died lis. 12, 2007 there",
        "reigned 1693-1734 well; 1999-12-28; 2010 listopad 16",
        "x1999 not a date but 1999 is; 1690s too",
        "12/11/1694 and 3. února 1848 do 5. března 1849",
        "1999",
        "a1999b 1999a a1999 .1999",
        "led. 5, 1200 -- pro. 9, 1300",
        "",
        "no digits here at all",
        "4.4.44 4.4.444 44.44.4444",
        "edge 2000",
        "2000 edge",
        "ŘÍJ 1999 vs ríj 1999 vs Ríj 1999",
        # candidates right after a word char (dropped by the prefilter)
        "a1999 xled é12 1999x",
        "a1999-2000 x12. 11. 1694 éled. 5, 1200 _1999 ŠPro. 9, 1300",
        # candidates at offset 1, after a word char and after a non-word one
        "x1999", "é1999", " 1999", "(1999)", "xlis. 12, 2007", ".lis. 12, 2007",
    ]
    # plus deterministic random soup mixing digits, stems, punctuation
    rng = random.Random(4)
    atoms = ["1999", "12", "led", "pro", "lis", " ", ".", ",", "-", "–",
             "do", "a", "Z", "\n", "(", "x7", "07", "2021-05-04", "1690s",
             "é", "_", "xled", "a1999"]
    for _ in range(200):
        samples.append("".join(rng.choice(atoms)
                               for _ in range(rng.randrange(0, 40))))
    for s in samples:
        plain = [(m.start(), m.end(), m.group(1)) for m in _ALL_RE.finditer(s)]
        fast = [(m.start(), m.end(), m.group(1)) for m in _scan_candidates(s)]
        assert fast == plain, (s, fast, plain)
