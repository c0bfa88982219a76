"""DOM-structural HTML rewrite functions (SURVEY.md §2.7 F1-F3) as
Arrow-vectorized pandas UDFs — the engine's slow path, kept out of the
relational hot path.

The reference implements these with BeautifulSoup row-at-a-time
(utilities/html_cleaner.py). Here each transform is a pure
``str -> str`` Python function (regex/stdlib only — no external DOM
dependency in this container), batched through ``pandas_udf`` so the
JVM<->Python boundary is crossed once per Arrow batch, not per row.
Transform semantics follow the reference:

- ``clean_html``           — html_cleaner.py:11-45 (drop <script>/<style>,
                             strip CDATA markers, error-passthrough)
- ``process_images``       — html_cleaner.py:47-193 (ac:image/ri:attachment
                             -> <img> with alignment, URL absolutization,
                             figure/figcaption for titled images)
- ``process_code_blocks``  — html_cleaner.py:195-341 (ac:structured-macro
                             code -> <pre class="code-block">)
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: token substituted later with the real page id (html_cleaner.py:140-144)
PAGE_ID_TOKEN = "PAGE_ID"

_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_CDATA_RE = re.compile(r"<!\[CDATA\[|\]\]>")

# ac:image with optional alignment/title wrapping an ri:attachment or ri:url
_AC_IMAGE_RE = re.compile(
    r"<ac:image\b(?P<attrs>[^>]*)>(?P<body>.*?)</ac:image\s*>",
    re.IGNORECASE | re.DOTALL,
)
_RI_ATTACHMENT_RE = re.compile(
    r'<ri:attachment\b[^>]*ri:filename="(?P<filename>[^"]*)"[^>]*/?>',
    re.IGNORECASE,
)
_RI_URL_RE = re.compile(
    r'<ri:url\b[^>]*ri:value="(?P<url>[^"]*)"[^>]*/?>', re.IGNORECASE
)
_IMG_SRC_RE = re.compile(r'(<img\b[^>]*\bsrc=")(?P<src>[^"]*)(")', re.IGNORECASE)

# code macro: <ac:structured-macro ac:name="code">...params...<ac:plain-text-body>
_CODE_MACRO_RE = re.compile(
    r'<ac:structured-macro\b[^>]*ac:name="code"[^>]*>(?P<body>.*?)'
    r"</ac:structured-macro\s*>",
    re.IGNORECASE | re.DOTALL,
)
_LANG_PARAM_RE = re.compile(
    r'<ac:parameter\b[^>]*ac:name="language"[^>]*>(?P<lang>[^<]*)</ac:parameter>',
    re.IGNORECASE,
)
_PLAIN_BODY_RE = re.compile(
    r"<ac:plain-text-body\s*>(?P<code>.*?)</ac:plain-text-body\s*>",
    re.IGNORECASE | re.DOTALL,
)

_ALIGN_STYLE = {
    "center": "display: block; margin-left: auto; margin-right: auto;",
    "right": "float: right; margin-left: 1em;",
    "left": "float: left; margin-right: 1em;",
}


def clean_html(html: str | None, base_url: str = "") -> str | None:
    """F1 (html_cleaner.py:11-45): full chain — drop script/style, rewrite
    images and code macros, strip CDATA. Any unexpected failure returns
    the input unchanged (reference error-passthrough, :42-45)."""
    if html is None:
        return None
    try:
        out = _SCRIPT_STYLE_RE.sub("", html)
        out = process_code_blocks(out)
        out = process_images(out, base_url)
        out = _CDATA_RE.sub("", out)
        return out
    except Exception:
        return html


def process_images(html: str, base_url: str = "") -> str:
    """F2 (html_cleaner.py:47-193): ``ac:image``/``ri:attachment`` ->
    ``<img>`` with alignment styles; attachment srcs point at the
    PAGE_ID download path (substituted later, html_cleaner.py:140-144);
    titled images wrapped in figure/figcaption; relative ``src``
    absolutized against ``base_url`` (:164-166)."""

    def attr(attrs: str, name: str) -> str | None:
        m = re.search(rf'{name}="([^"]*)"', attrs, re.IGNORECASE)
        return m.group(1) if m else None

    def repl(m: re.Match) -> str:
        attrs, body = m.group("attrs"), m.group("body")
        align = attr(attrs, "ac:align")
        title = attr(attrs, "ac:title")
        src = None
        att = _RI_ATTACHMENT_RE.search(body)
        if att:
            src = f"download/attachments/{PAGE_ID_TOKEN}/{att.group('filename')}"
        else:
            url = _RI_URL_RE.search(body)
            if url:
                src = url.group("url")
        if src is None:
            return m.group(0)
        style = _ALIGN_STYLE.get((align or "").lower(), "")
        style_attr = f' style="{style}"' if style else ""
        title_attr = f' title="{title}"' if title else ""
        img = f'<img src="{src}"{title_attr}{style_attr}/>'
        if title:
            return f"<figure>{img}<figcaption>{title}</figcaption></figure>"
        return img

    out = _AC_IMAGE_RE.sub(repl, html)
    if base_url:
        base = base_url.rstrip("/")

        def absolutize(m: re.Match) -> str:
            src = m.group("src")
            if re.match(r"^(https?:|data:)", src):
                return m.group(0)
            return f"{m.group(1)}{base}/{src.lstrip('/')}{m.group(3)}"

        out = _IMG_SRC_RE.sub(absolutize, out)
    return out


def process_code_blocks(html: str) -> str:
    """F3 (html_cleaner.py:195-341): Confluence code macro ->
    ``<pre class="code-block" data-language="...">``; CDATA payload
    unwrapped verbatim."""

    def repl(m: re.Match) -> str:
        body = m.group("body")
        lang_m = _LANG_PARAM_RE.search(body)
        lang = lang_m.group("lang").strip() if lang_m else ""
        code_m = _PLAIN_BODY_RE.search(body)
        code = code_m.group("code") if code_m else ""
        code = _CDATA_RE.sub("", code)
        lang_attr = f' data-language="{lang}"' if lang else ""
        return f'<pre class="code-block"{lang_attr}><code>{code}</code></pre>'

    return _CODE_MACRO_RE.sub(repl, html)


# ---------------------------------------------------------------------------
# Spark bindings (Arrow-batched)
# ---------------------------------------------------------------------------


def make_clean_html_udf(base_url: str = ""):
    """pandas UDF over a string column; one Arrow batch per invocation.

    Ships this package to the Python workers first — the pickled UDF
    references this module by name, and workers do not share the
    driver's sys.path (see pyfiles.py)."""
    from atlassian_confluence_data_pipeline_spark.pyfiles import (
        ensure_package_on_workers,
    )

    ensure_package_on_workers()

    @F.pandas_udf(T.StringType())
    def clean_html_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda x: clean_html(x, base_url))

    return clean_html_udf

