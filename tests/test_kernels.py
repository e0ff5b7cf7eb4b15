"""Kernel unit tests — pure functions, no Spark session.

Parity strategy (SURVEY.md §5.2): the engine's kernels
(pdf_ai_mapper_spark.kernels) are compared against the vendored
transcription of the reference (tests/reference_extractor.py) on
fixture texts, the reference repo's own test data, and edge cases.
"""

from __future__ import annotations

import pathlib

import pytest

from pdf_ai_mapper_spark.fixtures.webpages import (build_html, build_pdf,
                                                   build_pdf_row, build_png,
                                                   page_row)
from pdf_ai_mapper_spark.kernels import porter
from pdf_ai_mapper_spark.kernels.extract import extract_text, sniff_doctype
from pdf_ai_mapper_spark.kernels.html_extract import extract_main_text
from pdf_ai_mapper_spark.kernels.ocr import stub_ocr_image
from pdf_ai_mapper_spark.kernels.pdf_extract import parse_pdf_pages
from pdf_ai_mapper_spark.kernels.preprocess import (preprocess_text,
                                                    simple_categories)
from pdf_ai_mapper_spark.kernels.query import preprocess_query
from pdf_ai_mapper_spark.kernels.relevance import (generate_snippet,
                                                   relevance_score)

import reference_extractor as ref

REFERENCE_TEST_DATA = pathlib.Path('/root/reference/test_data')

EDGE_TEXTS = [
    "",
    "Error: PDF extraction timed out after 120 seconds. The file may be too large or complex.",
    "Hello, World! 123 foo-bar_baz.",
    "the and of to is was a an",                       # all stopwords
    "αβγ ΔΕΖ привет 哲学 مرحبا mixed latin tail",       # script stripping
    "data data data model model pipeline pipeline data model pipeline "
    "data model pipeline spark spark spark",            # repeated phrases
    "ab cd ef",                                          # all tokens < 3 chars
    "42 1234 999",                                       # digits only
    "compound-word stays hyphenated-too",
    "tabs\tand\nnewlines\r\nand  double  spaces",
]


@pytest.mark.parametrize('i', range(0, 60))
def test_preprocess_matches_reference_on_fixture_pages(i):
    truth = page_row(i)['text']
    assert preprocess_text(truth) == ref.preprocess_text(truth)


@pytest.mark.parametrize('text', EDGE_TEXTS)
def test_preprocess_matches_reference_on_edge_cases(text):
    assert preprocess_text(text) == ref.preprocess_text(text)


@pytest.mark.parametrize('name', ['sample_text.txt', 'test_document.txt'])
def test_preprocess_matches_reference_on_reference_test_data(name):
    path = REFERENCE_TEST_DATA / name
    if not path.exists():
        pytest.skip('reference test data not present')
    text = path.read_text(encoding='utf-8', errors='replace')
    assert preprocess_text(text) == ref.preprocess_text(text)


def test_simple_categories_matches_reference():
    for i in range(20):
        pre = preprocess_text(page_row(i)['text'])
        assert simple_categories(pre) == ref.simple_category(pre)


# ------------------------------------------------------------- extraction

def test_extraction_byte_identical_on_fixture_corpus():
    for i in range(300):
        row = page_row(i)
        assert extract_text(row['html']) == row['text'], f'row {i}'


def test_sniff_doctype():
    assert sniff_doctype(b'%PDF-1.4 etc') == 'pdf'
    assert sniff_doctype(b'\x89PNG\r\n\x1a\nrest') == 'image'
    assert sniff_doctype(b'<html><body>hi</body></html>') == 'html'


def test_pdf_parser_on_reference_style_fixture():
    # same shape as /root/reference/tests/conftest.py:143-158
    payload = build_pdf(['Test PDF Content'])
    assert parse_pdf_pages(payload) == ['Test PDF Content']
    # reference pdf_extractor.py:45 appends "\n" per page; short text
    # (<1000 chars) also triggers the OCR fallback (:53), which finds
    # nothing embedded here, leaving the parsed text as-is
    assert extract_text(payload) == 'Test PDF Content\n'


def test_pdf_parser_escapes_and_multipage():
    pages = ['Page (one) with \\ backslash', 'Page two']
    payload = build_pdf(pages)
    assert parse_pdf_pages(payload) == pages


def test_scanned_pdf_triggers_ocr_fallback():
    payload, truth = build_pdf_row(9)  # (9//6)%2==1 → scanned variant
    got = extract_text(payload)
    assert got == truth
    assert 'Scan 9 page 0' in got     # parsed prefix retained


def test_png_ocr_stub_roundtrip():
    png = build_png('ground truth text 42')
    assert stub_ocr_image(png) == 'ground truth text 42'
    assert extract_text(png) == 'ground truth text 42'


def test_corrupt_payload_yields_error_string(monkeypatch):
    bad_pdf = b'%PDF-'  # header only, no streams → no text
    assert extract_text(bad_pdf).startswith('Error')
    bad_png = b'\x89PNG\r\n\x1a\n' + b'\x00' * 4
    assert extract_text(bad_png).startswith('Error extracting text:')
    # F1 is enforced per row: a payload over MAX_FILE_SIZE is an error row
    from pdf_ai_mapper_spark.kernels import extract
    monkeypatch.setattr(extract, 'MAX_FILE_SIZE', 4)
    assert extract_text(b'<p>big</p>') == 'Error: File too large'


def test_html_extractor_skips_boilerplate():
    payload, truth = build_html(7)
    text = extract_main_text(payload.decode('utf-8'))
    assert text == truth
    assert 'Terms of service' not in text
    assert 'Section' not in text          # nav links stripped
    assert 'Related' not in text          # aside stripped
    assert 'function track' not in text   # script stripped


def test_html_extractor_plain_div_page():
    html = ('<html><body><div id="nav"><a href="/a">aaa</a> <a href="/b">bbb</a>'
            '<a href="/c">ccc</a></div><div id="c">'
            '<p>This paragraph, rather long and content-bearing, should be '
            'selected as the main content of this little page.</p>'
            '<p>A second paragraph, also quite long, confirms the density '
            'scoring picks this container over the navigation block.</p>'
            '</div></body></html>')
    text = extract_main_text(html)
    assert 'should be selected' in text
    assert 'aaa' not in text


# ------------------------------------------------------------- search side

def test_relevance_matches_reference():
    docs = [page_row(i)['text'] for i in range(25)]
    for toks in (['philosophy'], ['data', 'model'], ['the virtue'],
                 ['scan', 'page'], ['zzz-absent']):
        for d in docs:
            assert relevance_score(toks, d) == ref.calculate_relevance(toks, d)


def test_snippet_matches_reference():
    docs = [page_row(i)['text'] for i in range(25)]
    for toks in (['philosophy'], ['data', 'model'], ['empire'],):
        for d in docs:
            assert generate_snippet(toks, d) == ref.generate_snippet(toks, d)


def test_query_preprocess_stems_and_drops_stopwords():
    assert preprocess_query('The running dogs!') == ['run', 'dog']
    assert preprocess_query('') == []
    assert preprocess_query('the and of') == []


@pytest.mark.parametrize('word,expected', [
    ('caresses', 'caress'), ('ponies', 'poni'), ('ties', 'ti'),
    ('caress', 'caress'), ('cats', 'cat'), ('feed', 'feed'),
    ('agreed', 'agre'), ('plastered', 'plaster'), ('bled', 'bled'),
    ('motoring', 'motor'), ('sing', 'sing'), ('conflated', 'conflat'),
    ('troubled', 'troubl'), ('sized', 'size'), ('hopping', 'hop'),
    ('tanned', 'tan'), ('falling', 'fall'), ('hissing', 'hiss'),
    ('fizzed', 'fizz'), ('failing', 'fail'), ('filing', 'file'),
    ('happy', 'happi'), ('sky', 'sky'), ('relational', 'relat'),
    ('conditional', 'condit'), ('rational', 'ration'), ('valenci', 'valenc'),
    ('digitizer', 'digit'), ('operator', 'oper'), ('feudalism', 'feudal'),
    ('decisiveness', 'decis'), ('hopefulness', 'hope'), ('formaliti', 'formal'),
    ('triplicate', 'triplic'), ('formative', 'form'), ('formalize', 'formal'),
    ('electriciti', 'electr'), ('electrical', 'electr'), ('hopeful', 'hope'),
    ('goodness', 'good'), ('revival', 'reviv'), ('allowance', 'allow'),
    ('inference', 'infer'), ('airliner', 'airlin'), ('gyroscopic', 'gyroscop'),
    ('adjustable', 'adjust'), ('defensible', 'defens'), ('irritant', 'irrit'),
    ('replacement', 'replac'), ('adjustment', 'adjust'), ('dependent', 'depend'),
    ('adoption', 'adopt'), ('homologou', 'homolog'), ('communism', 'commun'),
    ('activate', 'activ'), ('angulariti', 'angular'), ('homologous', 'homolog'),
    ('effective', 'effect'), ('bowdlerize', 'bowdler'), ('probate', 'probat'),
    ('rate', 'rate'), ('cease', 'ceas'), ('controll', 'control'), ('roll', 'roll'),
])
def test_porter_stemmer_canonical_vocabulary(word, expected):
    """Examples from Porter's 1980 paper, steps 1a-5b (classic mode)."""
    assert porter.stem(word, mode=porter.ORIGINAL) == expected


@pytest.mark.parametrize('word,expected', [
    # NLTK_EXTENSIONS divergences from the 1980 paper, matching
    # nltk.stem.PorterStemmer() defaults (the reference's query path):
    ('ties', 'tie'), ('dies', 'die'),          # step1a: 4-letter -ies
    ('died', 'die'), ('spied', 'spi'),         # step1b: -ied direct
    ('play', 'play'), ('say', 'say'),          # step1c: vowel+y kept
    ('enjoy', 'enjoy'), ('cry', 'cri'), ('happy', 'happi'),
    ('skies', 'sky'), ('dying', 'die'), ('lying', 'lie'),  # pool
    ('news', 'news'), ('innings', 'inning'), ('succeed', 'succeed'),
    # step-2 extensions (bli/ble swap, alli-first recursion, fulli,
    # logi-with-l-measure) — expected values are nltk.stem.
    # PorterStemmer() outputs:
    ('possibly', 'possibl'), ('carefully', 'care'),
    ('geology', 'geolog'), ('formally', 'formal'),
    ('reasonably', 'reason'), ('usefully', 'use'),
    ('theology', 'theolog'), ('analogi', 'analog'),
])
def test_porter_stemmer_nltk_extensions(word, expected):
    assert porter.stem(word) == expected


def test_ws_collapse_split_equals_regex_sub():
    """A ' '.join(split()) collapse must be byte-identical to the
    reference's re.sub(r'\\s+',' ',t).strip() (preprocess_text's bare
    split() relies on it):
    exhaustive BMP whitespace-table agreement + string fuzz."""
    import re
    import random
    RE_WS = re.compile(r'\s+')
    for cp in range(0x10000):
        ch = chr(cp)
        assert bool(RE_WS.fullmatch(ch)) == (('a' + ch + 'b').split()
                                             != ['a' + ch + 'b']), hex(cp)
    rng = random.Random(1)
    ws = [' ', '\t', '\n', '\r', '\x0b', '\x0c', '\x1c', '\x1d',
          '\x85', '\xa0', ' ', '　']
    for _ in range(5000):
        s = ''.join(rng.choice(ws + list('ab-c_'))
                    for _ in range(rng.randint(0, 30)))
        assert RE_WS.sub(' ', s).strip() == ' '.join(s.split()), repr(s)


def _tree_shape(node):
    """Serialize an html_extract element tree for equality checks."""
    out = [node.tag]
    for c in node.children:
        out.append(c if isinstance(c, str) else _tree_shape(c))
    return out


def test_fast_tree_matches_stdlib_builder():
    """The regex scanner must build the same element tree as the
    tolerant stdlib html.parser fallback on fixture pages and the
    edge cases it claims to handle (comments, doctype, raw-text
    script/style, void/self-closing tags, misnesting, stray '<',
    entities)."""
    from pdf_ai_mapper_spark.kernels import html_extract as hx

    cases = [page_row(i)['html'].decode('utf-8', 'replace')
             for i in range(0, 200, 7)
             if not page_row(i)['html'][:5] == b'%PDF-'
             and not page_row(i)['html'][:4] == b'\x89PNG']
    cases += [
        '<html><body><p>a</p><p>b</p></body></html>',
        '<div><!-- <p>not content</p> --><p>real</p></div>',
        '<!DOCTYPE html><p>x</p><?pi junk?>',
        '<script>if (a < b) { x("</div>"); }</script><p>t</p>',
        '<style>a > b { color: red }</style><p>t</p>',
        '<p>unclosed<div>misnested</p></div><p>tail</p>',
        '<p>stray < bracket</p>',
        '<br><img src="x"/><hr/><p>after voids</p>',
        '<p>&amp; &lt;ok&gt; &#65;</p>',
        '<a href="x>y">quoted gt</a>',
        "<a href='x>y'>single quoted</a>",
        '<P>UPPER<Div>case</DIV></p>',
        '<td>no table parents</td>',
        'text before <p>tag</p> text after',
        '',
        'no tags at all & some text',
        # non-ASCII pseudo-tags: str.isalpha() is Unicode-aware but tag
        # names are ASCII-only ([a-zA-Z] in _TAG_RE and html.parser) —
        # '<中文>' must be emitted as text, not consumed as an element
        '<p>x <中文> y</p>',
        '<div><émile>z</émile></div>',
        '<p>a</中文><b>c</b></p>',
        '<中文 attr="v">body</中文>',
        '<p>a</123><b>c</b></p>',   # bogus end tag → dropped comment
        '<p>a</><b>c</b></p>',      # '</>' silently consumed
    ]
    for html in cases:
        fast = hx._fast_tree(html)
        builder = hx._TreeBuilder()
        builder.feed(html)
        builder.close()
        assert _tree_shape(fast) == _tree_shape(builder.root), html[:80]


def test_ascii_lower_strip_fusion_exhaustive_and_composed():
    """The fused ASCII table must equal lower-then-strip per codepoint
    (0-127 exhaustively) and on composed strings."""
    from pdf_ai_mapper_spark.kernels.preprocess import (_ASCII_LOWER_STRIP,
                                                        _STRIP_TABLE,
                                                        _lower_strip)
    for cp in range(128):
        ch = chr(cp)
        assert _ASCII_LOWER_STRIP[cp] == ch.lower().translate(_STRIP_TABLE)
    for s in ['', 'Hello, World! 123', 'A-B_c  D\t9', '<TAG>&amp;',
              'MiXeD CaSe-with_underscores 00', 'é non-ascii PATH Σ']:
        assert _lower_strip(s) == s.lower().translate(_STRIP_TABLE)
