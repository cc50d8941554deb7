"""Statement classification: tokenize a statement once and name its kind.

The reference parses each statement once (SqlParser.createStatement in
DispatchManager.createQueryInternal, SURVEY §3.1); access control, the
session response headers and the DDL task map then all read that one
Statement. Here the parse is a token pass: comments are dropped (Trino's
grammar treats ``/*+ ... */`` as a comment too), and the statement's kind
is the longest run of its leading keywords that is a key of the engine's
``{kind: handler}`` dispatch table (dialect/engine.py DISPATCH). Longest
match resolves the overlapping forms: ``SET SESSION AUTHORIZATION`` over
``SET SESSION``, ``DESCRIBE OUTPUT`` over ``DESCRIBE``, and so on.
"""

from __future__ import annotations

from collections.abc import Collection
from dataclasses import dataclass

from trino_spark.dialect.tokenizer import Tok, tokenize


@dataclass(frozen=True)
class Statement:
    source: str  # the statement as submitted
    text: str  # comments dropped, stripped, no trailing ';'
    tokens: tuple[Tok, ...]  # code tokens of `source` (no whitespace, no comments)
    kind: str | None  # matched dispatch-table key, None when none matches

    def word(self, i: int) -> str:
        """Upper-cased code token i when it is a word, else ''."""
        if i < len(self.tokens) and self.tokens[i].kind == "WORD":
            return self.tokens[i].text.upper()
        return ""

    def name_at(self, i: int) -> str:
        """Last part of the dotted name starting at code token i,
        unquoted and lower-cased ('' when there is none)."""
        toks, name = self.tokens, ""
        while i < len(toks) and toks[i].kind in ("WORD", "QIDENT"):
            name = toks[i].text.strip('"').lower()
            if i + 2 < len(toks) and toks[i + 1].is_sym("."):
                i += 2
            else:
                break
        return name


def classify(sql: str, kinds: Collection[str]) -> Statement:
    """One tokenize of `sql`; `kinds` are the dispatch-table keys
    (space-separated upper-case keywords)."""
    toks = tokenize(sql)
    text = "".join(
        " " if t.kind == "WS" and t.text.startswith(("--", "/*")) else t.text for t in toks
    )
    code = tuple(t for t in toks if t.kind != "WS")
    i = 0
    while i < len(code) and code[i].is_sym("("):  # '(SELECT ...) UNION ...'
        i += 1
    longest = max((k.count(" ") + 1 for k in kinds), default=0)
    words: list[str] = []
    while i < len(code) and code[i].kind == "WORD" and len(words) < longest:
        words.append(code[i].text.upper())
        i += 1
    kind = next(
        (k for k in (" ".join(words[:n]) for n in range(len(words), 0, -1)) if k in kinds),
        None,
    )
    return Statement(sql, text.strip().rstrip(";").rstrip(), code, kind)
