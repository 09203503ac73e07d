from earth_data_kit_spark.text import analysis
from earth_data_kit_spark.text.extract import extract_text, text_sha256
from earth_data_kit_spark.text.geocode import geocode


def test_extract_roundtrip_via_render():
    from earth_data_kit_spark.sources.pages import expected_text, render_html

    text = "Hello <world> & friends\nsecond   paragraph"
    html = render_html(text, 7)
    out = extract_text(html)
    assert out == expected_text(text, 7)
    # entities decoded, tags stripped, script/style/comments gone
    assert "<world>" in out
    assert "script" not in out
    assert "margin" not in out
    assert "synthetic page" not in out
    # heading preserved with whitespace canonicalized
    assert "Document 7" in out


def test_extract_deterministic_bytes():
    html = b"<html><body><p>a&amp;b   c</p><!-- x --><script>s</script></body></html>"
    assert extract_text(html) == "a&b c"
    assert text_sha256(extract_text(html)) == text_sha256("a&b c")


def test_extract_handles_broken_utf8():
    assert extract_text(b"<p>ok\xff</p>") == "ok�"


def test_geocode_priority():
    assert geocode("https://x.al/doc/@41.5,19.9", "") == (41.5, 19.9, "url")
    assert geocode("https://x.al/doc/1", "geo: 40.1, 20.2 more") == (40.1, 20.2, "content")
    assert geocode("https://x.al/doc/1", "no coords") == (41.0, 20.0, "cctld")
    assert geocode("https://x.zz/doc/1", "")[2] == "none"
    # out-of-range coords rejected, falls through to cctld
    assert geocode("https://x.al/doc/@99.0,19.9", "")[2] == "cctld"


def test_langid():
    assert analysis.detect_lang("the cat and the dog sat in the house") == "en"
    assert analysis.detect_lang("der Hund und die Katze ist nicht da") == "de"
    assert analysis.detect_lang("12345 !!!") == "und"


def test_quality():
    good = analysis.quality_score("This is a reasonable sentence with several proper words.")
    bad = analysis.quality_score("@@@ ### !!!")
    assert good > bad
    s = analysis.quality_stats("ab cd!")
    assert s["n_chars"] == 6 and s["n_words"] == 2 and s["n_tokens"] == 3


def test_tokens_and_fingerprint():
    assert analysis.token_count("a b, c") == 4
    assert analysis.whitespace_token_count("  a  b   c ") == 3
    f1 = analysis.fingerprint64("same text")
    assert f1 == analysis.fingerprint64("same text")
    assert f1 != analysis.fingerprint64("other text")
    assert 0 <= f1 < 1 << 63


def test_minhash_similarity_tracks_jaccard():
    a = "the quick brown fox jumps over the lazy dog again and again " * 3
    b = a.replace("lazy", "sleepy")
    c = "completely different content about spark dataframes and shuffles " * 3
    sa = analysis.minhash_signature(a, 128)
    sb = analysis.minhash_signature(b, 128)
    sc = analysis.minhash_signature(c, 128)
    sim_ab = sum(x == y for x, y in zip(sa, sb)) / 128
    sim_ac = sum(x == y for x, y in zip(sa, sc)) / 128
    true_ab = analysis.jaccard(set(analysis.shingles(a)), set(analysis.shingles(b)))
    assert sim_ab > sim_ac
    assert abs(sim_ab - true_ab) < 0.2
    assert analysis.minhash_signature(a, 128) == sa  # deterministic


def test_simhash_hamming():
    a = "the quick brown fox jumps over the lazy dog " * 5
    b = a + "extra tail words here"
    c = "entirely different topic matter with other vocabulary " * 5
    ha, hb, hc = (analysis.simhash64(t) for t in (a, b, c))
    assert analysis.hamming64(ha, hb) < analysis.hamming64(ha, hc)


def test_shingles_and_ngrams():
    assert analysis.shingles("a b c d e", 3) == ["a b c", "b c d", "c d e"]
