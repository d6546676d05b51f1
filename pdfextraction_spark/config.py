"""Engine-wide constants.

Every tolerance mirrors the reference implementation so per-turn text
equality holds (citations into /root/reference):

- LINE_Y_TOL        services/spatial_preprocessor.py:184  (y tolerance 5.0)
- CLUSTER_GAP_MULT  services/spatial_preprocessor.py:11,280 (2.0 x avg gap)
- VALUE_ALIGN_TOL   services/spatial_preprocessor.py:118  (30 px word align)
- PAIR_DIST_TOL     services/spatial_preprocessor.py:162  (50 px pairing)
- TABLE_ROW_GAP     services/spatial_preprocessor.py:496  (20 px line gap)
- REGULAR_SPACING_TOL services/spatial_preprocessor.py:510 (10 px)
- ROW_Y_TOL         services/coordinate_table_extractor.py:9 (5.0)
- FIELD_KEYWORDS    services/spatial_preprocessor.py:19-25
- FIELD_ENDINGS     services/spatial_preprocessor.py:323
- COMMON_FIELDS     services/spatial_preprocessor.py:335-336
- LAST_WORD_FIELDS  services/spatial_preprocessor.py:344
- EMPTY_SENTINEL / separators services/spatial_preprocessor.py:174-182,253
"""

from __future__ import annotations

LINE_Y_TOL = 5.0
CLUSTER_GAP_MULT = 2.0
VALUE_ALIGN_TOL = 30.0
PAIR_DIST_TOL = 50.0
TABLE_ROW_GAP = 20.0
REGULAR_SPACING_TOL = 10.0
ROW_Y_TOL = 5.0
TABLE_MIN_COLS = 3  # multipage_processor.py:176 / spatial_preprocessor.py:481
TABLE_MIN_ROWS = 2  # spatial_preprocessor.py:500

EMPTY_SENTINEL = "[EMPTY]"
CLUSTER_SEP = "    "  # 4 spaces between clusters on a line

FIELD_KEYWORDS = (
    "name", "id", "number", "no", "code", "date", "time", "status", "type",
    "group", "class", "category", "dept", "department", "title", "position",
    "employee", "emp", "staff", "person", "user", "customer", "client",
    "address", "phone", "email", "ssn", "tax", "salary", "rate", "amount",
    "total", "sum", "balance", "payment", "account", "reference", "ref",
)

FIELD_ENDINGS = (
    ":", "#", "no", "id", "code", "name", "date", "type", "status", "group",
)

COMMON_FIELDS = (
    "status", "emp", "employee", "position", "title", "gender", "marital",
    "hire", "term", "supervisor", "department", "division", "location",
)

LAST_WORD_FIELDS = frozenset(
    ["id", "no", "type", "code", "date", "status", "group", "name", "title"]
)

TITLE_CASE_RATIO = 0.7  # spatial_preprocessor.py:331
ALLCAPS_VALUE_MAXLEN = 6  # spatial_preprocessor.py:387

# --- HTML boilerplate stripping (our addition per the north star; the
# reference has no HTML path, so these thresholds DEFINE the engine's
# Boilerpipe/Readability-style semantics and are pinned by unit tests).
HTML_DROP_SUBTREES = frozenset(
    ["script", "style", "nav", "header", "footer", "aside", "head",
     "noscript", "template", "svg", "form", "iframe", "button", "select"]
)
HTML_BLOCK_TAGS = frozenset(
    ["p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre", "blockquote",
     "td", "th", "div", "section", "article", "main", "body", "ul", "ol",
     "table", "tr", "br", "hr", "figcaption", "caption", "dt", "dd"]
)
HTML_HEADING_TAGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])
HTML_MIN_TEXT_LEN = 25       # minimum chars for a non-heading content block
HTML_MIN_HEADING_LEN = 3     # minimum chars for a heading block
HTML_MAX_LINK_DENSITY = 1.0 / 3.0  # drop link-dense blocks

# --- payload-kind detection (prefix spec; see payload.py)
PDF_ENVELOPE_PREFIX = '{"kind": "pdf_layout"'

# --- partitioning defaults for the distributed job
DEFAULT_NUM_PARTITIONS = 32
