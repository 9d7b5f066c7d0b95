"""Oracle-kernel tests: extraction, detection, correction (pure Python)."""

from sbb_ocr_postcorrection_spark.correct import best_correction, correct_token
from sbb_ocr_postcorrection_spark.datagen import generate_pages, make_page
from sbb_ocr_postcorrection_spark.detect import flag_spans_counted, is_noisy_token
from sbb_ocr_postcorrection_spark.extract import extract_blocks, content_text
from sbb_ocr_postcorrection_spark.kernel import run_document


HTML = b"""<!DOCTYPE html><html><head><script>nav()</script></head><body>
<nav><ul><li><a href="/">home</a></li><li><a href="/a">about</a></li></ul></nav>
<main>
<p>Das ist ein langer Absatz mit genug Text um als Inhalt erkannt zu werden.</p>
<div class="promo"><a href="/x">subscribe newsletter now</a></div>
<p>Noch ein zweiter langer Absatz mit noch mehr Text und weiteren Worten darin.</p>
</main>
<footer><a href="/i">imprint</a> <a href="/p">privacy</a></footer>
</body></html>"""


def test_boilerplate_stripped():
    blocks = extract_blocks(HTML)
    text = content_text(blocks)
    assert "langer Absatz" in text
    assert "zweiter langer Absatz" in text
    assert "home" not in text
    assert "imprint" not in text
    # link-dominated promo between two content blocks is NOT rescued
    assert "subscribe" not in text


def test_island_rescue():
    html = (b"<body><main><p>Ein erster langer Absatz mit vielen Worten und "
            b"Zeichen darin enthalten.</p><p>kurz</p><p>Ein dritter langer "
            b"Absatz mit vielen weiteren Worten und Zeichen.</p></main></body>")
    text = content_text(extract_blocks(html))
    assert "kurz" in text  # short block sandwiched between content → rescued


def test_detector_flags_noisy_not_clean():
    assert not is_noisy_token("wasser")
    assert not is_noisy_token("Wasser.")
    assert not is_noisy_token("1234")   # numeric never flagged
    assert not is_noisy_token("...")
    assert is_noisy_token("wasscr")      # e→c confusion of dictionary word
    assert is_noisy_token("strasse1x")   # digit/letter mix


def test_corrector_restores_confusions():
    assert best_correction("wasscr") == "wasser"
    assert best_correction("hirnrnel") == "himmel"  # m→rn
    assert best_correction("wasser") is None  # already clean → no candidates
    assert correct_token("Wasscr,") == "Wasser,"  # case + punct preserved


def test_flag_spans_offsets():
    spans = flag_spans_counted("das wasscr ist")[0]
    assert [(s[0], s[1]) for s in spans] == [(0, 3), (4, 10), (11, 14)]
    assert [bool(s[2]) for s in spans] == [False, True, False]


def test_clean_page_extracts_byte_exact():
    for i in range(10):
        p = make_page(42, i, noise_rate=0.0)
        assert run_document(p.html).extracted_text == p.text


def test_noise_fully_corrected():
    # the detect→correct loop restores the injected confusion noise exactly
    for i in range(20):
        clean = make_page(11, i, noise_rate=0.0)
        noisy = make_page(11, i, noise_rate=0.12)
        assert run_document(noisy.html).extracted_text == clean.text


def test_metrics_consistent():
    p = make_page(3, 1, noise_rate=0.2)
    r = run_document(p.html)
    assert r.chars_in == len(p.html)
    assert r.chars_out == len(r.extracted_text)
    assert 0 <= r.n_flagged <= r.n_spans
    assert r.n_content_blocks <= r.n_blocks
    # spans cover tokens of extracted_text exactly
    for start, end, _ in r.spans:
        tok = r.extracted_text[start:end]
        assert tok and not tok[0].isspace() and not tok[-1].isspace()


def test_determinism():
    pages_a = generate_pages(25, seed=9)
    pages_b = generate_pages(25, seed=9)
    assert [(p.url, p.html) for p in pages_a] == [(p.url, p.html) for p in pages_b]
    assert [run_document(p.html) for p in pages_a] == [run_document(p.html) for p in pages_b]


def test_host_skew_present():
    pages = generate_pages(500, seed=42)
    from collections import Counter
    hosts = Counter(p.url.split("/")[2] for p in pages)
    top2 = sum(c for _, c in hosts.most_common(2))
    assert top2 >= 0.15 * len(pages)  # heavy hitters for salting tests
