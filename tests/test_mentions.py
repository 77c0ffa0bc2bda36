"""Gazetteer mention-scan gates (kgforge.linking.mentions +
kgforge.stages.link.scan_mentions)."""

from kgforge.linking.mentions import build_mention_index, find_mentions


def _scan(sentence, aliases, lang="en"):
    en, zh = build_mention_index(sorted(aliases))
    return find_mentions(sentence, lang, en, zh)


def test_leftmost_longest_wins():
    aliases = ["global dynamics", "global dynamics 7", "dynamics"]
    assert _scan("Global dynamics 7 acquired initech.", aliases) == [
        "global dynamics 7"
    ]


def test_edge_punct_and_case_normalized():
    assert _scan("Yesterday, Maria Lopez, spoke.", ["maria lopez"]) == [
        "maria lopez"
    ]


def test_non_overlapping_repeats():
    assert _scan("dynamics then dynamics again", ["dynamics"]) == [
        "dynamics",
        "dynamics",
    ]


def test_consumed_tokens_not_rematched():
    # after matching "maria lopez", "lopez" alone must not re-fire
    assert _scan("maria lopez spoke", ["maria lopez", "lopez"]) == ["maria lopez"]


def test_zh_substring_scan():
    got = _scan("王伟在天河科技工作。", ["王伟", "天河科技"], lang="zh")
    assert sorted(got) == ["天河科技", "王伟"]


def test_no_hits():
    assert _scan("nothing to see here", ["maria lopez"]) == []


def test_fused_mention_docstream_equals_staged(spark):
    """The fused single-stage scan must equal the staged
    normalize → sentences → scan_mentions composition row-for-row."""
    from kgforge.fixtures.gen import gen_alias_rows
    from kgforge.stages.docstream import scan_mentions_docstream
    from kgforge.stages.extract import sentences
    from kgforge.stages.link import scan_mentions
    from kgforge.stages.normalize import normalize
    from tests.test_docstream import webdocs

    docs = webdocs(spark, 60)  # includes NULL-text/NULL-lang/empty docs
    aliases = sorted({r["alias"] for r in gen_alias_rows(60)} | {"acme corp"})
    fused = sorted(map(tuple, scan_mentions_docstream(docs, aliases).collect()))
    staged = sorted(
        map(tuple, scan_mentions(sentences(normalize(docs)), aliases).collect())
    )
    assert fused == staged and fused
    assert ("edge://null-lang", 0, "acme corp") in fused


def test_spark_scan_matches_pure_matcher(spark):
    from kgforge.stages.link import scan_mentions

    aliases = ["maria lopez", "global dynamics", "天河科技"]
    rows = [
        ("u1", "en", 0, "Maria lopez works at global dynamics."),
        ("u1", "en", 1, "Nothing here."),
        ("u2", "zh", 0, "王伟在天河科技工作。"),
    ]
    df = spark.createDataFrame(
        rows, "url string, lang string, sent_id int, sentence string"
    )
    got = sorted(
        (r["url"], r["sent_id"], r["mention"])
        for r in scan_mentions(df, aliases).collect()
    )
    en, zh = build_mention_index(sorted(aliases))
    want = sorted(
        (url, sid, m)
        for url, lang, sid, s in rows
        for m in find_mentions(s, lang, en, zh)
    )
    assert got == want and got  # non-empty
