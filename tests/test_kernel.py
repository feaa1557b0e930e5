"""Pure-kernel unit tests (no Spark): the deterministic text/extraction kernels."""

from __future__ import annotations

from kgx import fixtures, kernel


def test_html_to_text_strips_boilerplate_and_flattens_tables():
    html = (
        "<html><head><style>x{}</style><title>T</title></head><body>"
        "<nav><ul><li>Home</li></ul></nav>"
        "<main><h1>1. INTRO</h1><p>Hello   world</p>"
        "<table><tr><th>Year</th><th>V</th></tr><tr><td>2020</td><td>5</td></tr></table>"
        "</main><footer><p>copyright</p></footer></body></html>"
    )
    text = kernel.html_to_text(html)
    assert "Home" not in text and "copyright" not in text and "x{}" not in text
    assert "Year<=>V" in text and "2020<=>5" in text
    assert "Hello world" in text  # whitespace collapsed


def test_html_to_text_deterministic_bytes_vs_str():
    html = "<p>abc</p><p>def</p>"
    assert kernel.html_to_text(html) == kernel.html_to_text(html.encode())


def test_heading_grammar_and_exclusions():
    text = "\n".join(
        [
            "1. PROJECT DETAILS",
            "body",
            "1.1 PROJECT PROPONENT (S)",
            "body",
            "2.5 MW CAPACITY",  # ' MW ' false heading (PDFExtraction.py:55-58)
            "1.2 SECTORAL SCOPE ...................... 4",  # ToC dots (:44-48)
            "5.7 UNRELATED",  # invalid continuation (:76-149)
            "1.2 NEXT SECTION",
            "lowercase 1.3 not at start",
        ]
    )
    hs = kernel.find_headings(text)
    assert [h["number"] for h in hs] == ["1", "1.1", "1.2"]


def test_letter_sections_map_to_ordinals():
    text = "1. TOP\nbody\na.1 ANNEX A DETAILS\nbody"
    hs = kernel.find_headings(text)
    # a -> 1, so a.1 == (1,1) is a valid first child of (1,)
    assert [h["number"] for h in hs] == ["1", "a.1"]


def test_section_spans_lead_semantics():
    text = "1. A\nxx\n1.1 B\nyy"
    secs = kernel.sections_from_text(text)
    assert secs[0]["end_off"] == secs[1]["start_off"]
    assert secs[1]["end_off"] == len(text)
    assert text[secs[0]["body_off"] : secs[0]["end_off"]] == "xx\n"


def test_methodology_regex_keeps_trailing_dot():
    codes = kernel.extract_methodologies("applies AMS-III.D. and ACM0002 here")
    assert codes == ["ACM0002", "AMS-III.D."]


def test_date_multi_format():
    assert kernel.extract_crediting_period(
        "from 07/09/2018 to September 2, 2038"
    ) == {"start": "2018-09-07", "end": "2038-09-02"}


def test_state_abbr_canonicalization():
    fact = kernel.extract_location(
        "The project is located in CA, United States at latitude 1.0000 "
        "and longitude 2.0000"
    )
    assert fact["state_province"] == "California"


def test_ghg_excludes_zero_and_keeps_negative():
    ctx = "Year<=>V\n2020<=>0.000\n2021<=>-24.019\n2022<=>5.000"
    assert kernel.extract_ghg(ctx) == {"2021": -24.019, "2022": 5.0}


def test_sector_canonical_labels():
    assert kernel.extract_sector("a forestry project") == "Forestry and Land Use"
    assert kernel.extract_sector("renewable power") == "Renewable Energy"
    assert kernel.extract_sector("nothing") is None


def test_proponent_blocks():
    ctx = (
        "Organization Name: Acme Ltd\nTelephone: +1\nEmail: a@b\nCity: X\n"
        "Country: Y\nOrganization Name: Beta Inc\nCountry: Z"
    )
    props = kernel.extract_proponents(ctx)
    assert len(props) == 2
    assert props[0]["organization_name"] == "Acme Ltd"
    assert props[1] == {"organization_name": "Beta Inc", "country": "Z"}


def test_proponent_free_text_mention_extraction():
    """CommonRegex-style phone/email + gazetteer city/country fallbacks
    (formatter.py:44-62,170-171) fill fields only when labels are absent."""
    ctx = (
        "Organization Name: Acme Ltd\n"
        "Based in Lima, Peru. Reach us at +1-555-0042 or a@b.example today.\n"
        "Organization Name: Beta Inc\n"
        "Telephone: +9-999-9999\n"
        "Offices in Nairobi, Kenya. Write to beta@beta.example.\n"
    )
    props = kernel.extract_proponents(ctx)
    assert props[0] == {
        "organization_name": "Acme Ltd",
        "telephone": "+1-555-0042",
        "email": "a@b.example",
        "city": "Lima",
        "country": "Peru",
    }
    # labeled telephone wins; the rest comes from free text
    assert props[1] == {
        "organization_name": "Beta Inc",
        "telephone": "+9-999-9999",
        "email": "beta@beta.example",
        "city": "Nairobi",
        "country": "Kenya",
    }


def test_gazetteer_first_mention_and_boundaries():
    assert kernel._first_gazetteer_mention(
        "shipped via jakarta, then to Hanoi", ("Hanoi", "Jakarta")
    ) == "Jakarta"  # earliest position wins, canonical casing restored
    # word boundaries: no match inside a larger word
    assert kernel._first_gazetteer_mention("jakartan customs", ("Jakarta",)) is None
    # multi-word gazetteer entries
    assert kernel._first_gazetteer_mention(
        "based in the united states of america", ("United States",)
    ) == "United States"


def test_select_context_multi_chunk_deterministic():
    body = "\n".join(f"line {i} " + "filler " * 40 for i in range(30))
    c1 = kernel.select_context(body, "methodology")
    c2 = kernel.select_context(body, "methodology")
    assert c1 == c2
    assert len(c1) < len(body)


def test_fixture_generator_deterministic():
    a = fixtures.gen_pages(20)
    b = fixtures.gen_pages(20)
    assert a == b
    assert all(p["text"] == kernel.html_to_text(p["html"]) for p in a)


def test_canonical_json_stable():
    assert kernel.canonical_json({"b": 1, "a": -24.019}) == '{"a":-24.019,"b":1}'


def test_last_match_resolution_parity_and_differs_from_first():
    """resolve_sections_last_match (app.py:245-271 'second match wins'): on a
    duplicate-heading doc it picks the LATER heading where first-match
    (categorize_heading in document order) picks the earlier one."""
    html = (
        "<html><body>"
        "<h1>1. INTRO</h1>"
        "<h2>1.1 PROJECT PROPONENT (S)</h2><p>first occurrence</p>"
        "<h2>1.2 OTHER</h2><p>x</p>"
        "<h1>2. ANNEX</h1>"
        "<h2>2.1 PROJECT PROPONENT DETAILS</h2><p>second occurrence</p>"
        "</body></html>"
    )
    text = kernel.html_to_text(html)
    firsts = {}
    for s in kernel.sections_from_text(text):
        cat = kernel.categorize_heading(s["title"])
        if cat:
            firsts.setdefault(cat, s)  # first document-order match
    res = kernel.resolve_sections_last_match(text)
    assert res["project_proponents"]["number"] == "2.1"
    assert firsts["project_proponents"]["number"] == "1.1"
