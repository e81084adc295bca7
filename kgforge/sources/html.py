"""HTML -> text extraction with BeautifulSoup(html, "html.parser").get_text() parity.

Parity target (reference, /root/reference/graphrag_sdk/document_loaders/html.py:42-48):

    soup = BeautifulSoup(content, "html.parser")
    content = soup.get_text()
    content = re.sub(r"\n{2,}", "\n", content)

bs4 is NOT available in this runtime, so we reimplement `get_text()` semantics
directly on the stdlib ``html.parser.HTMLParser`` — which is the *same parser
bs4's "html.parser" tree builder wraps* — rather than approximating with regex.
Semantics reproduced (bs4 4.12.3, the version pinned by the reference's
poetry.lock):

- all character data is concatenated in document order (separator "");
- character/entity references are decoded (bs4 passes convert_charrefs=True);
- comments, doctypes, processing instructions and CDATA sections contribute
  nothing (they are non-NavigableString classes, excluded by get_text);
- strings *directly* inside <script>, <style>, <template> contribute nothing
  (bs4 >= 4.9 "string containers": Script/Stylesheet/TemplateString are
  excluded from get_text by default). Text nested deeper inside <template>
  (e.g. <template><p>x</p></template>) IS included, exactly as bs4 does —
  the container class is decided by the innermost open tag only;
- void elements (<br>, <img>, ...) never become containers;
- a stray end tag with no matching open tag is ignored; an end tag closes
  every unclosed tag above its match (bs4's _popToTag behavior).

When bs4 *is* importable (e.g. a dev machine), tests/test_html_parity.py
cross-checks byte-equality against the real thing.

At scale this runs as an Arrow-batched pandas UDF (one Python parse per row
inside a vectorized batch — the same CPU work the reference does per document,
minus the driver bottleneck) and the `html` column is dropped immediately
afterwards so it never flows through a shuffle.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_NEWLINES = re.compile(r"\n{2,}")

# HTML void elements: may not contain content, never pushed as containers.
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
# Tags whose *direct* string children are excluded from get_text
# (bs4 HTMLParserTreeBuilder.string_containers: script/style/template).
_EXCLUDED_CONTAINERS = frozenset(("script", "style", "template"))


class _TextExtractor(HTMLParser):
    """Collects exactly the strings bs4's get_text() would return."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self.stack: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag not in _VOID:
            self.stack.append(tag)

    def handle_startendtag(self, tag: str, attrs) -> None:
        # self-closing: never a container
        pass

    def handle_endtag(self, tag: str) -> None:
        if tag in self.stack:
            # pop up to and including the most recent matching open tag
            while self.stack:
                if self.stack.pop() == tag:
                    break

    def handle_data(self, data: str) -> None:
        if self.stack and self.stack[-1] in _EXCLUDED_CONTAINERS:
            return
        if data:
            self.parts.append(data)

    # excluded node classes (Comment / Doctype / ProcessingInstruction / CData)
    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass

    def unknown_decl(self, data: str) -> None:
        pass


def get_text(html: str) -> str:
    """bs4 ``soup.get_text()`` equivalent (no newline collapse)."""
    p = _TextExtractor()
    p.feed(html)
    p.close()
    return "".join(p.parts)


def html_to_text(html: str | bytes) -> str:
    """Full reference pipeline: get_text + collapse ``\\n{2,}`` -> ``\\n``.

    Bytes are decoded as UTF-8 (the reference reads files in text mode with
    the default codec: document_loaders/html.py:25).
    """
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    return _NEWLINES.sub("\n", get_text(html))


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched extraction UDF over a binary/string `html` column."""
    return html.map(lambda h: None if h is None else html_to_text(h))


def text_expr(df: DataFrame):
    """The stage-01 text column, shared by the batch and streaming paths:
    bs4-parity extraction from `html` when the page has html (the
    byte-identical-per-url invariant); pages without html (text-only
    loaders, pre-extracted corpora) keep their `text`."""
    extracted = extract_text_udf(F.col("html"))
    if "text" in df.columns:
        return (
            F.when(F.col("html").isNotNull(), extracted)
            .otherwise(F.col("text"))
            .alias("text")
        )
    return extracted.alias("text")


def with_extracted_text(pages_df, html_col: str = "html", out_col: str = "text"):
    """pages(url, warc_ts, html, ...) -> same + extracted `text`; drops html.

    Dropping `html` here is the column-pruning contract for every later stage
    (SURVEY.md §4: "never select html after text extraction").
    """
    return pages_df.withColumn(out_col, extract_text_udf(F.col(html_col))).drop(
        html_col
    )
