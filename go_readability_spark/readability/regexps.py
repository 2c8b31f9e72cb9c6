"""All regular expressions and constant tables used by the extractor.

Ports /root/reference/internal/util/regexp.go:6-77 plus the ad patterns from
preprocess.go:38-55 and the metadata regexes from metadata.go:26-42.

Parity notes (SURVEY.md §1.2):
- Go's RE2 ``\\s`` matches ASCII whitespace only ``[\\t\\n\\f\\r ]``; Python's
  ``re`` ``\\s`` matches Unicode whitespace. Where the reference relies on
  ``\\s`` we substitute the explicit ASCII class ``GOWS``.
- All patterns below are precompiled once per Python worker at module import
  (the reference precompiles package-level regexes at init,
  internal/util/regexp.go:17; it *re*-compiles some per call in
  metadata.go/markdown.go — an inefficiency we deliberately do not copy,
  SURVEY.md §4.1).
"""

from __future__ import annotations

import re

# RE2's \s (ASCII-only); see module docstring.
GOWS = r"[\t\n\f\r ]"

DEFAULT_N_TOP_CANDIDATES = 5  # internal/util/regexp.go:6
DEFAULT_CHAR_THRESHOLD = 500  # internal/util/regexp.go:9

# internal/util/regexp.go:12-14
DEFAULT_TAGS_TO_SCORE = (
    "section", "h2", "h3", "h4", "h5", "h6", "p", "td", "pre",
)

# internal/util/regexp.go:36 — case-SENSITIVE, matched on raw class+" "+id
UNLIKELY_CANDIDATES = re.compile(
    r"-ad-|ai2html|banner|breadcrumbs|combx|comment|community|cover-wrap|"
    r"disqus|extra|footer|gdpr|header|legends|menu|related|remark|replies|"
    r"rss|shoutbox|sidebar|skyscraper|social|sponsor|supplemental|ad-break|"
    r"agegate|pagination|pager|popup|yom-remote"
)

# internal/util/regexp.go:37
OK_MAYBE_ITS_A_CANDIDATE = re.compile(
    r"and|article|body|column|content|main|shadow"
)

# internal/util/regexp.go:38
POSITIVE = re.compile(
    r"article|body|content|entry|hentry|h-entry|main|page|pagination|post|"
    r"text|blog|story"
)

# internal/util/regexp.go:39
NEGATIVE = re.compile(
    r"-ad-|hidden|^hid$| hid$| hid |^hid |banner|combx|comment|com-|contact|"
    r"footer|gdpr|masthead|media|meta|outbrain|promo|related|scroll|share|"
    r"shoutbox|sidebar|skyscraper|sponsor|shopping|tags|widget"
)

# internal/util/regexp.go:40 — multi-script commas
COMMAS = re.compile(",|،|﹐|︐|︑|⹁|⹔|⹒|，|、")

# internal/util/regexp.go:41 — RE2 \s is ASCII-only
NORMALIZE = re.compile(GOWS + "{2,}")


def collapse_whitespace(text: str) -> str:
    """``NORMALIZE.sub(" ", text)``. Text whose only whitespace is the
    space (the common case) skips the regex scan: halving double spaces
    until none is left gives the same string."""
    if "\n" in text or "\t" in text or "\r" in text or "\f" in text:
        return NORMALIZE.sub(" ", text)
    while "  " in text:
        text = text.replace("  ", " ")
    return text

# internal/util/regexp.go:51-62 (hasChildBlockElement set; used by markdown)
DIV_TO_P_ELEMS = frozenset(
    {"blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul"}
)

# internal/util/regexp.go:65-71
PHRASING_ELEMS = frozenset({
    "abbr", "audio", "b", "bdo", "br", "button", "cite", "code", "data",
    "datalist", "dfn", "em", "embed", "i", "img", "input", "kbd", "label",
    "mark", "math", "meter", "noscript", "object", "output", "progress", "q",
    "ruby", "samp", "script", "select", "small", "span", "strong", "sub",
    "sup", "textarea", "time", "var", "wbr",
})

# preprocess.go:14-35 — tags deleted wholesale before scoring
TAGS_TO_REMOVE = (
    "aside", "nav", "header", "footer", "script", "style", "noscript",
    "iframe", "form", "button", "object", "embed", "applet", "map", "dialog",
    # audio/video/figure/canvas/details deliberately kept (preprocess.go:29-34)
)

# preprocess.go:38-55 — case-insensitive ad heuristics on class+" "+id
AD_PATTERNS = tuple(
    re.compile(p, re.IGNORECASE)
    for p in (
        r"ad-", r"^ad$", r"^ads$", r"advert", r"banner", r"sponsor", r"promo",
        r"google-ad", r"adsense", r"doubleclick", r"amazon", r"affiliate",
        r"commercial", r"paid", r"shopping", r"recommendation",
    )
)

# metadata.go:28-29. Go slices the title at *byte* offsets, but every match
# boundary is a character boundary, so char-offset slicing on str is
# equivalent; only length *comparisons* need byte_len (SURVEY.md §1.2(1)).
TITLE_SEPARATOR = re.compile(r" [\|\-\\/>»] ")
TITLE_HIERARCHICAL_SEPARATOR = re.compile(r" [\\/>»] ")
TITLE_SEPARATOR_STRIP = re.compile(r"[\|\-\\/>»]+")  # metadata.go:153

# metadata.go:32
PROPERTY_PATTERN = re.compile(
    GOWS + r"*(article|dc|dcterm|og|twitter)" + GOWS + r"*:" + GOWS
    + r"*(author|creator|description|published_time|title|site_name)"
    + GOWS + r"*"
)

# metadata.go:33
NAME_PATTERN = re.compile(
    r"^" + GOWS + r"*(?:(dc|dcterm|og|twitter|parsely|weibo:(article|webpage))"
    + GOWS + r"*[-\.:]" + GOWS + r"*)?"
    r"(author|creator|pub-date|description|title|site_name)" + GOWS + r"*$"
)

# metadata.go:36
JSONLD_ARTICLE_TYPES = re.compile(
    r"^Article|AdvertiserContentArticle|NewsArticle|AnalysisNewsArticle|"
    r"AskPublicNewsArticle|BackgroundNewsArticle|OpinionNewsArticle|"
    r"ReportageNewsArticle|ReviewNewsArticle|Report|SatiricalArticle|"
    r"ScholarlyArticle|MedicalScholarlyArticle|SocialMediaPosting|"
    r"BlogPosting|LiveBlogPosting|DiscussionForumPosting|TechArticle|"
    r"APIReference$"
)

# metadata.go:37
SCHEMA_DOT_ORG = re.compile(r"^https?\:\/\/schema\.org\/?$")

# metadata.go:40-41
HTML_ENTITY = re.compile(r"&(quot|amp|apos|lt|gt);")
NUMERIC_ENTITY = re.compile(r"&#(?:x([0-9a-f]+)|([0-9]+));")

# metadata.go:263 — CDATA strip inside JSON-LD scripts
CDATA_STRIP = re.compile(r"^" + GOWS + r"*<!\[CDATA\[|\]\]>" + GOWS + r"*$")

# format.go:13-28
SELF_CLOSING_TAGS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
})

# format.go:31-72
BLOCK_ELEMENTS = frozenset({
    "address", "article", "aside", "blockquote", "details", "dialog", "dd",
    "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hgroup", "hr", "li",
    "main", "nav", "ol", "p", "pre", "section", "table", "ul",
})


def byte_len(s: str) -> int:
    """Go ``len()`` on a string = UTF-8 byte length (SURVEY.md §1.2(1)).

    ASCII fast path: one C scan instead of a full UTF-8 encode — for a
    multi-MB document body the encode allocated a second copy of the
    text just to count it."""
    if s.isascii():
        return len(s)
    return len(s.encode("utf-8", "surrogatepass"))
