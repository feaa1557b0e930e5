"""Pure, deterministic text kernels shared by the golden (single-process) path and
the Spark pandas-UDF path.

This module is the single source of truth for the per-row invariant mandated by
BASELINE.json:input_hint — "byte-identical extracted text per url". Both the
fixture generator / golden extractor (kgx.fixtures) and the Arrow-batched Spark
page passes (kgx.extract) import THESE functions, so the invariant holds by
construction and is additionally pinned by tests/test_kernel.py.

Reference-parity notes (citations into /root/reference, read-only):
- html -> text with boilerplate stripping mirrors the layout-aware extraction of
  tools/PDFExtraction.py:223-278 (words outside tables + tables, order preserved);
  tables are flattened with the cell separator '<=>' exactly like
  initial_pipeline/app.py:181-193.
- heading grammar: tools/PDFExtraction.py:42 regex
  (section numbers like '1.2', 'A.1', '1.12.3'); false-heading exclusions
  tools/PDFExtraction.py:44-48 (ToC dotted lines) and :55-58 (' MW ' lines).
- hierarchical section-number validation: tools/PDFExtraction.py:76-149
  (letters -> ordinal via ord(c)-ord('a')+1; a heading is kept only if its number
  is a plausible continuation of the previous kept heading).
- category matching: lowercase contains-match against heading variants,
  scripts/processing/context_extractor.py:78-81.
- per-category extraction replaces the per-row OpenAI calls
  (scripts/run_pipeline.py:76-105) with deterministic schema-guided parsing; the
  output shapes mirror the function-calling JSON Schemas in
  initial_pipeline/section/*.py.
- date normalization: '%B %d, %Y' and '%d/%m/%Y' -> '%Y-%m-%d'
  (ground_truth_project_detail_formatter.py:159-165).
- sector canonicalization: ground_truth_project_detail_formatter.py:155-156.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator
from datetime import datetime
from html.parser import HTMLParser

from kgx.config import HEADING_VARIANTS, US_STATE_ABBR

# --------------------------------------------------------------------------- #
# html -> text
# --------------------------------------------------------------------------- #

_SKIP_SUBTREE = {"script", "style", "nav", "footer", "header", "aside", "head"}
_BLOCK = {
    "p", "div", "section", "article", "main", "body", "ul", "ol", "li",
    "h1", "h2", "h3", "h4", "h5", "h6", "table", "tr", "br", "title",
}
_CELL = {"td", "th"}
TABLE_CELL_SEP = "<=>"  # initial_pipeline/app.py:181-193 flattens table cells with '<=>'


class _TextExtractor(HTMLParser):
    """Boilerplate-stripping, table-flattening HTML -> text extractor.

    Deterministic stdlib-only implementation (no external parser): block tags
    emit line breaks; nav/footer/header/aside/script/style subtrees are dropped;
    <tr> cells are joined with '<=>'.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._lines: list[str] = []
        self._cur: list[str] = []
        self._in_row = False
        self._row_cells: list[str] = []
        self._cell: list[str] = []
        self._in_cell = False

    # -- helpers ------------------------------------------------------------
    def _flush_line(self) -> None:
        text = " ".join("".join(self._cur).split())
        self._cur = []
        if text:
            self._lines.append(text)

    def _flush_cell(self) -> None:
        if self._in_cell:
            self._row_cells.append(" ".join("".join(self._cell).split()))
            self._cell = []
            self._in_cell = False

    def _flush_row(self) -> None:
        if self._in_row:
            self._flush_cell()
            if any(self._row_cells):
                self._lines.append(TABLE_CELL_SEP.join(self._row_cells))
            self._row_cells = []
            self._in_row = False

    # -- parser hooks ---------------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_SUBTREE:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "tr":
            self._flush_line()
            self._flush_row()
            self._in_row = True
        elif tag in _CELL:
            self._flush_cell()
            self._in_cell = True
        elif tag in _BLOCK:
            self._flush_row()
            self._flush_line()

    def handle_endtag(self, tag):
        if tag in _SKIP_SUBTREE:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag == "tr":
            self._flush_row()
        elif tag in _CELL:
            self._flush_cell()
        elif tag in _BLOCK:
            self._flush_line()

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._in_cell:
            self._cell.append(data)
        elif self._in_row:
            pass  # stray text between cells in a row: drop (whitespace in practice)
        else:
            self._cur.append(data)

    def result(self) -> str:
        self._flush_row()
        self._flush_line()
        return "\n".join(self._lines)


def html_to_text(html: bytes | str) -> str:
    """Strip boilerplate and flatten tables. Byte-identical per url by contract."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    p = _TextExtractor()
    p.feed(html)
    p.close()
    return p.result()


# --------------------------------------------------------------------------- #
# heading detection + hierarchical validation
# --------------------------------------------------------------------------- #

# Section-number + UPPERCASE-title grammar, after tools/PDFExtraction.py:42:
#   (?:[1-9]|[a-zA-Z])\.\d+(?:\.\d+|\.|\.\d+\.)?\s+[A-Z]+
# generalized to multi-digit top levels and bare top-level numbers ("1. TITLE").
HEADING_RE = re.compile(
    r"^((?:[1-9][0-9]*|[A-Za-z]))((?:\.[0-9]+)*)\.?\s+([A-Z][A-Z0-9 ,&/()\-.'%]*)$"
)
_TOC_DOTS_RE = re.compile(r"[.\-_]{10,}")  # ToC artifact exclusion, PDFExtraction.py:44-48
_MW_RE = re.compile(r"\bMW\b")  # false-heading exclusion, PDFExtraction.py:55-58


def _sec_path(top: str, rest: str) -> tuple[int, ...]:
    """'1', '.12.3' -> (1, 12, 3); letters -> ordinal (PDFExtraction.py:96-101)."""
    first = int(top) if top.isdigit() else (ord(top.lower()) - ord("a") + 1)
    tail = tuple(int(x) for x in rest.split(".") if x)
    return (first, *tail)


def _valid_continuation(prev: tuple[int, ...] | None, cur: tuple[int, ...]) -> bool:
    """Plausible-continuation rules of _filter_toc (PDFExtraction.py:76-149).

    Accept when `cur` is (a) the first heading, (b) a sibling increment at some
    prefix level of `prev`, or (c) a first child of `prev` (one level deeper,
    ending in 1).
    """
    if prev is None:
        return True
    # first child: prev + (1,)
    if cur == (*prev, 1):
        return True
    # sibling increment at any ancestor level (including own level)
    for lvl in range(len(prev), 0, -1):
        cand = (*prev[: lvl - 1], prev[lvl - 1] + 1)
        if cur == cand:
            return True
    return False


def find_headings(text: str) -> list[dict]:
    """All validated headings with char offsets into `text`.

    Returns [{'start_off', 'end_line_off', 'number', 'title', 'heading'}...] in
    document order. `start_off` is the offset of the heading line; the section
    body begins after the heading line's newline.
    """
    out: list[dict] = []
    prev_path: tuple[int, ...] | None = None
    off = 0
    for line in text.split("\n"):
        line_len = len(line)
        m = HEADING_RE.match(line)
        if m and not _TOC_DOTS_RE.search(line) and not _MW_RE.search(m.group(3)):
            path = _sec_path(m.group(1), m.group(2))
            if _valid_continuation(prev_path, path):
                prev_path = path
                number = m.group(1) + m.group(2)
                out.append(
                    {
                        "start_off": off,
                        "body_off": off + line_len + 1,  # body starts after newline
                        "number": number,
                        "title": m.group(3).strip(),
                        "heading": line,
                    }
                )
        off += line_len + 1  # +1 for '\n'
    return out


def sections_from_text(text: str) -> list[dict]:
    """Headings -> [(section, start_off, end_off, body_off)] with end = next start.

    The end_off = next heading's start_off is the lead()-window semantic
    (PDFExtraction.py:71 `end_page = start.shift(-1)`).
    """
    hs = find_headings(text)
    secs = []
    for i, h in enumerate(hs):
        end = hs[i + 1]["start_off"] if i + 1 < len(hs) else len(text)
        secs.append(
            {
                "section": h["heading"],
                "title": h["title"],
                "number": h["number"],
                "start_off": h["start_off"],
                "body_off": min(h["body_off"], end),
                "end_off": end,
            }
        )
    return secs


def categorize_heading(title: str) -> str | None:
    """Lowercase contains-match against heading variants (context_extractor.py:78-81)."""
    low = title.lower()
    for category, variants in HEADING_VARIANTS.items():
        for v in variants:
            if v in low:
                return category
    return None


def _compress_heading(s: str) -> str:
    """lower + delete '-' and ' ' — initial_pipeline/app.py:255,261."""
    return s.lower().translate(str.maketrans("", "", "- "))


def resolve_sections_last_match(text: str) -> dict[str, dict]:
    """category -> winning section, 'last match wins' semantics of the
    reference's initial pipeline (app.py:245-271): per category, variants try
    in order; the first variant with any compressed-containment match claims
    the category, and among that variant's matches the LAST heading in the
    document wins ('There can be up to 2 matches, we should go with the second
    one / Since the first one can be the real TOC in the PDF'). The pipeline
    uses first-match-by-priority (categorize_heading); this variant exists
    for reference parity and has no Spark-side caller."""
    secs = sections_from_text(text)
    out: dict[str, dict] = {}
    for cat, variants in HEADING_VARIANTS.items():
        for v in variants:
            cv = _compress_heading(v)
            matches = [s for s in secs if cv in _compress_heading(s["section"])]
            if matches:
                out[cat] = matches[-1]
                break
    return out


# --------------------------------------------------------------------------- #
# chunking (context_extractor.py:84,108,111-112 RecursiveCharacterTextSplitter)
# --------------------------------------------------------------------------- #

def chunk_text(text: str, size: int = 2000, overlap: int = 50) -> list[str]:
    """Deterministic character chunker with overlap, newline-preferring splits."""
    if len(text) <= size:
        return [text] if text else []
    chunks = []
    start = 0
    while start < len(text):
        end = min(start + size, len(text))
        if end < len(text):
            nl = text.rfind("\n", start + size // 2, end)
            if nl > start:
                end = nl
        chunks.append(text[start:end])
        if end >= len(text):
            break
        start = max(end - overlap, start + 1)
    return chunks


# --------------------------------------------------------------------------- #
# deterministic hash embedding + top-k context selection
# (stand-in for MiniLM + Chroma top-k cosine, context_extractor.py:33,119-146;
#  deterministic so golden and Spark paths agree bit-for-bit)
# --------------------------------------------------------------------------- #

import math
import zlib


def hash_embed(text: str, dim: int = 64) -> list[float]:
    """Character-trigram hashing embedding, L2-normalized. Pure + deterministic."""
    vec = [0.0] * dim
    s = " ".join(text.lower().split())
    if len(s) < 3:
        s = s + "   "
    for i in range(len(s) - 2):
        g = s[i : i + 3]
        h = zlib.crc32(g.encode("utf-8"))
        vec[h % dim] += 1.0 if (h >> 16) & 1 else -1.0
    n = math.sqrt(sum(v * v for v in vec))
    if n == 0.0:
        return vec
    return [v / n for v in vec]


def cosine(a: list[float], b: list[float]) -> float:
    return sum(x * y for x, y in zip(a, b))


def chunk_score(chunk: str, category: str) -> float:
    """Relevance of a chunk to a category query (kernel shared by golden + Spark)."""
    from kgx.config import QUESTION_MAPPING

    q = category.replace("_", " ") + " " + QUESTION_MAPPING[category]
    return cosine(hash_embed(chunk), hash_embed(q))


def select_context(body: str, category: str, size: int = 2000, overlap: int = 50) -> str:
    """Chunk -> score -> keep top ceil(n/2) chunks in document order -> join.

    Mirrors k = ceil(n/2) retrieval (context_extractor.py:126) + chunk-text join
    (context_extractor.py:149). Ties broken by chunk index (deterministic).
    """
    chunks = chunk_text(body, size=size, overlap=overlap)
    if len(chunks) <= 1:
        return body.strip()
    keep = sorted(_retrieved_order(chunks, category))
    return "\n".join(chunks[i].strip() for i in keep)


def _retrieved_order(chunks: list[str], category: str) -> list[int]:
    """Chunk indices in retrieval order: score desc, chunk index asc (the
    deterministic tie-break shared by every retrieval mode), cut to
    k = ceil(n/2) (context_extractor.py:126)."""
    k = math.ceil(len(chunks) / 2)
    scored = sorted(
        ((chunk_score(c, category), -i) for i, c in enumerate(chunks)), reverse=True
    )
    return [-neg_i for _, neg_i in scored[:k]]


def _hash_embed_batch(texts: list[str]) -> list[list[float]]:
    return [hash_embed(t) for t in texts]


def redundancy_filter(embeds: list[list[float]], threshold: float = 0.95) -> list[int]:
    """Greedy near-duplicate drop in presentation order: position i survives
    iff its cosine vs every earlier survivor is < threshold. Mirrors
    langchain's EmbeddingsRedundantFilter as applied by the reference
    (context_extractor.py:132-134); 0.95 is that filter's default."""
    kept: list[int] = []
    for i, e in enumerate(embeds):
        if all(cosine(e, embeds[j]) < threshold for j in kept):
            kept.append(i)
    return kept


def select_context_redundant(
    body: str, category: str, size: int = 2000, overlap: int = 50,
    threshold: float = 0.95, embed=None,
) -> str:
    """Top-ceil(n/2) retrieval, then redundancy drop of near-duplicate chunks
    (in retrieval order), survivors re-joined in document order — the
    EmbeddingsRedundantFilter stage of context_extractor.py:132-134.

    ``embed`` maps a batch of chunk texts to vectors (one call per section);
    the default is hash_embed per text, which the goldens pin."""
    chunks = chunk_text(body, size=size, overlap=overlap)
    if len(chunks) <= 1:
        return body.strip()
    order = _retrieved_order(chunks, category)
    embeds = (embed or _hash_embed_batch)([chunks[i] for i in order])
    kept = sorted(order[j] for j in redundancy_filter(embeds, threshold))
    return "\n".join(chunks[i].strip() for i in kept)


def select_context_best1(
    body: str, category: str, size: int = 2000, overlap: int = 50,
    threshold: float = 0.95, embed=None,
) -> str:
    """Full reference compression pipeline: retrieval top-k -> redundancy
    filter -> EmbeddingsFilter(k=1) keep the single most query-relevant
    survivor (context_extractor.py:136-146). Because retrieval order is
    already score-descending and the redundancy filter keeps the first of any
    near-dup group, the best-1 survivor is the first kept position.
    ``embed`` as in select_context_redundant."""
    chunks = chunk_text(body, size=size, overlap=overlap)
    if len(chunks) <= 1:
        return body.strip()
    order = _retrieved_order(chunks, category)
    embeds = (embed or _hash_embed_batch)([chunks[i] for i in order])
    kept = redundancy_filter(embeds, threshold)
    return chunks[order[kept[0]]].strip()


# --------------------------------------------------------------------------- #
# per-category fact extraction (replaces the per-row LLM calls,
# run_pipeline.py:76-105; output shapes mirror initial_pipeline/section/*.py)
# --------------------------------------------------------------------------- #

_PROP_FIELD_RE = re.compile(
    r"^(Organization Name|Telephone|Email|City|Country):\s*(.+)$", re.MULTILINE
)
# NB: no trailing \b after the AMS dot — '\.?\b' silently drops the final period
# of codes like 'AMS-III.D.' and breaks the semi-join validation.
METHODOLOGY_CODE_RE = (
    r"\b(?:AMS-[IVX]+\.[A-Z]\.|AR-ACM[0-9]{4}\b|ACM[0-9]{4}\b|AM[0-9]{4}\b|VM[0-9]{4}\b)"
)
_METHOD_RE = re.compile(METHODOLOGY_CODE_RE)
_LOC_RE = re.compile(
    r"located in ([^,\n]+), ([A-Za-z ]+?) at latitude (-?[0-9]+\.[0-9]+) "
    r"and longitude (-?[0-9]+\.[0-9]+)"
)
_DATE_DMY_RE = re.compile(r"\b([0-9]{2}/[0-9]{2}/[0-9]{4})\b")
_DATE_LONG_RE = re.compile(
    r"\b(January|February|March|April|May|June|July|August|September|October|"
    r"November|December) ([0-9]{1,2}), ([0-9]{4})\b"
)
_GHG_ROW_RE = re.compile(r"^([12][0-9]{3})<=>(-?[0-9]+(?:\.[0-9]+)?)$", re.MULTILINE)


def _norm_date(s: str) -> str | None:
    """Multi-format date -> 'YYYY-MM-DD' (formatter.py:159-165; errors coerce to None)."""
    for fmt in ("%d/%m/%Y", "%B %d, %Y"):
        try:
            return datetime.strptime(s, fmt).strftime("%Y-%m-%d")
        except ValueError:
            continue
    return None


# CommonRegex-style free-text mention patterns
# (ground_truth_project_detail_formatter.py:44,61-62 uses CommonRegex
# .phones[0]/.emails[0] when the labeled fields are absent)
_PHONE_MENTION_RE = re.compile(
    # separators deliberately exclude \n: \s joined unrelated numeric tokens
    # on adjacent lines ("Founded 1995\n2000 employees") into fake numbers
    r"(?:\+?\d{1,3}[-. ]?)?(?:\(\d{2,4}\)[-. ]?)?\d{3,4}[-. ]?\d{3,4}"
    r"(?:[-. ]?\d{2,4})?"
)
_EMAIL_MENTION_RE = re.compile(
    r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"
)
_ORG_BLOCK_RE = re.compile(r"(?m)(?=^Organization Name:)")


_GAZ_CASE: dict[str, str] | None = None


def _gazetteer_case() -> dict[str, str]:
    global _GAZ_CASE
    if _GAZ_CASE is None:
        from kgx.config import GAZETTEER_CITIES, GAZETTEER_COUNTRIES

        _GAZ_CASE = {t.lower(): t for t in (*GAZETTEER_CITIES, *GAZETTEER_COUNTRIES)}
    return _GAZ_CASE


def _first_gazetteer_mention(text: str, terms: tuple[str, ...]) -> str | None:
    """Earliest word-boundary gazetteer mention (Aho-Corasick one-pass scan),
    returned in the dictionary's canonical casing — the flashgeotext
    geotext.extract mirror (formatter.py:47-49)."""
    from kgx import gazetteer

    hits = gazetteer.automaton(tuple(t.lower() for t in terms)).scan(text)
    if not hits:
        return None
    _, term = min(hits)
    return _gazetteer_case()[term]


def extract_proponents(context: str) -> list[dict] | None:
    """Repeated field blocks -> array<struct>, shape of
    initial_pipeline/section/project_proponents.py:16-54.

    Labeled `Field: value` lines win; when a block lacks a labeled
    telephone/email/city/country, free-text mention extraction fills in —
    CommonRegex-style phone/email patterns and the broadcast city/country
    gazetteer (formatter.py:44-62,170-171)."""
    from kgx.config import GAZETTEER_CITIES, GAZETTEER_COUNTRIES

    props: list[dict] = []
    for block in _ORG_BLOCK_RE.split(context):
        cur = {
            m.group(1).lower().replace(" ", "_"): m.group(2).strip()
            for m in _PROP_FIELD_RE.finditer(block)
        }
        if not cur.get("organization_name"):
            continue
        # free text of the block = everything except the labeled lines (so a
        # labeled org name containing digits can't feed the phone pattern)
        free = _PROP_FIELD_RE.sub("", block)
        if "telephone" not in cur:
            m = _PHONE_MENTION_RE.search(free)
            if m:
                cur["telephone"] = m.group(0).strip()
        if "email" not in cur:
            m = _EMAIL_MENTION_RE.search(free)
            if m:
                cur["email"] = m.group(0)
        if "city" not in cur:
            city = _first_gazetteer_mention(free, GAZETTEER_CITIES)
            if city:
                cur["city"] = city
        if "country" not in cur:
            country = _first_gazetteer_mention(free, GAZETTEER_COUNTRIES)
            if country:
                cur["country"] = country
        props.append(cur)
    return props or None


def extract_methodologies(context: str) -> list[str] | None:
    """Regex code mentions, de-duplicated and sorted; validation against the
    CDM-style dimension happens via broadcast semi join in the Spark path and
    against the same pool in the golden path (formatter.py:110,178-179)."""
    codes = sorted(set(_METHOD_RE.findall(context)))
    return codes or None


def extract_location(context: str) -> dict | None:
    m = _LOC_RE.search(context)
    if not m:
        return None
    state = m.group(1).strip()
    # US state-abbreviation canonicalization (formatter.py:52-56,173-175)
    state = US_STATE_ABBR.get(state, state)
    return {
        "state_province": state,
        "country": m.group(2).strip(),
        "latitude": float(m.group(3)),
        "longitude": float(m.group(4)),
    }


def extract_crediting_period(context: str) -> dict | None:
    """First two dates (either format) -> {start, end} as yyyy-MM-dd."""
    found: list[tuple[int, str]] = []
    for m in _DATE_DMY_RE.finditer(context):
        d = _norm_date(m.group(1))
        if d:
            found.append((m.start(), d))
    for m in _DATE_LONG_RE.finditer(context):
        d = _norm_date(m.group(0))
        if d:
            found.append((m.start(), d))
    found.sort()
    if len(found) < 2:
        return None
    return {"start": found[0][1], "end": found[1][1]}


def extract_sector(context: str) -> str | None:
    """Canonical two-label mapping (formatter.py:155-156)."""
    low = context.lower()
    if "forestry" in low:
        return "Forestry and Land Use"
    if "renewable" in low:
        return "Renewable Energy"
    return None


def extract_ghg(context: str) -> dict | None:
    """'YYYY<=>value' table lines -> {year: double}, negatives allowed
    (ground_truth_ghg_reduction_formatter.py:48-49); zero rows are excluded
    (:22,31)."""
    recs = {y: float(v) for y, v in _GHG_ROW_RE.findall(context)}
    recs = {y: v for y, v in recs.items() if v != 0.0}
    return recs or None


_EXTRACTORS = {
    "project_proponents": extract_proponents,
    "methodology": extract_methodologies,
    "project_location": extract_location,
    "crediting_period": extract_crediting_period,
    "sector": extract_sector,
    "ghg_emission_reductions": extract_ghg,
}


def extract_fact(category: str, context: str):
    """Dispatch to the per-category extractor; None when nothing grounded."""
    return _EXTRACTORS[category](context)


def page_contexts(text: str, select=select_context) -> Iterator[tuple[str, str]]:
    """Stage-3 retrieval of one page: (category, context) per categorized
    section, in document order. ``select(body, category)`` is the retrieval
    (select_context top-k, or select_context_{redundant,best1}). Two
    sections that categorize alike yield two contexts, and a body-less
    section yields ''."""
    for s in sections_from_text(text):
        cat = categorize_heading(s["title"])
        if cat is None:
            continue
        yield cat, select(text[s["body_off"] : s["end_off"]].strip(), cat)


def page_facts(text: str) -> list[tuple[str, object]]:
    """Full per-page fact extraction: sections -> categorize -> context ->
    extract, in one pass. This is the single-document composition of the
    kernels above, shared by the golden generator and the Spark facts pass
    (one Arrow batch pass per page — the per-document work is row-local, so
    distributing it stage-by-stage only buys shuffle and scheduler overhead
    at scale)."""
    out: list[tuple[str, object]] = []
    for cat, ctx in page_contexts(text):
        fact = extract_fact(cat, ctx)
        if fact is not None:
            out.append((cat, fact))
    return out


def canonical_json(obj) -> str:
    """Deterministic canonical JSON for the `obj` triple slot."""
    return json.dumps(obj, sort_keys=True, separators=(",", ":"), ensure_ascii=True)


# --------------------------------------------------------------------------- #
# entity-surface normalization + shingles (canonicalization support)
# --------------------------------------------------------------------------- #

_NON_ALNUM_RE = re.compile(r"[^a-z0-9 ]+")
_WS_RE = re.compile(r"\s+")


def normalize_surface(name: str) -> str:
    """lower + drop punctuation + collapse whitespace (PDD_categorization.py:32
    and initial_pipeline/app.py:255,261 compressed-string normalization)."""
    s = _NON_ALNUM_RE.sub(" ", name.lower())
    return _WS_RE.sub(" ", s).strip()


def shingles(name: str, k: int = 3) -> list[str]:
    """Sorted distinct character k-grams of the normalized surface."""
    s = normalize_surface(name)
    if len(s) < k:
        return [s] if s else []
    return sorted({s[i : i + k] for i in range(len(s) - k + 1)})


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def page_id_from_url(url: str) -> str:
    """'https://host/proj/000123' -> 'proj:000123' — the triple subject; mirrors
    filename-prefix id parsing (tools/utils.py:37, context_extractor.py:46)."""
    return "proj:" + url.rstrip("/").rsplit("/", 1)[-1]
