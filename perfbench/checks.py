"""Answer checks, kept free of Spark so ``selftest.py`` can prove each one fails
on a wrong expected value."""

from __future__ import annotations

import json
import re

_TERM = re.compile(r'<([^>]*)>|"((?:[^"\\]|\\.)*)"(?:\^\^<([^>]*)>|@([A-Za-z0-9-]+))?|(_:\S+)')


def parse_nquads_lines(text: str) -> set[tuple]:
    """N-Triples / N-Quads response body -> {(subject, predicate, object value)}.

    Independent of the program's own parser on purpose: the check must not
    share a bug with what it checks."""
    out = set()
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        terms = [m.group(1) or m.group(2) or m.group(5) or "" for m in _TERM.finditer(line)]
        if len(terms) < 3:
            raise ValueError(f"unparseable response line: {line!r}")
        out.add(tuple(terms[:3]))
    return out


def bindings(body: bytes) -> list[dict]:
    return json.loads(body)["results"]["bindings"]


def answer_of(kind: str, body: bytes):
    """Normalise a read response into the shape the model predicts."""
    if kind == "point":
        return {(b["g"]["value"], b["p"]["value"], b["o"]["value"]) for b in bindings(body)}
    if kind == "join":
        return {(b["s"]["value"], b["v"]["value"]) for b in bindings(body)}
    if kind == "group":
        return {b["g"]["value"]: int(b["n"]["value"]) for b in bindings(body)}
    if kind == "ask":
        return bool(json.loads(body)["boolean"])
    if kind in ("construct", "gsp_get"):
        return parse_nquads_lines(body.decode("utf-8"))
    raise ValueError(f"unknown read kind {kind!r}")


def check_read(kind: str, expected, body: bytes) -> str | None:
    """None when the response answers the read exactly, else why not."""
    try:
        got = answer_of(kind, body)
    except (ValueError, KeyError, TypeError) as e:
        return f"{kind}: unreadable response ({e})"
    if got != expected:
        return f"{kind}: expected {_short(expected)}, got {_short(got)}"
    return None


def check_write(kind: str, expected: dict | None, status: int, body: bytes) -> str | None:
    if status != 200:
        return f"{kind}: HTTP {status}"
    if expected is None:
        return None
    try:
        got = json.loads(body)
    except ValueError as e:
        return f"{kind}: unreadable response ({e})"
    if got != expected:
        return f"{kind}: expected {expected}, got {got}"
    return None


def check_set(what: str, expected: set, got: set) -> str | None:
    if got != expected:
        missing, extra = expected - got, got - expected
        return f"{what}: {len(missing)} missing ({_short(missing)}), {len(extra)} unexpected ({_short(extra)})"
    return None


def check_count(what: str, expected: int, got: int) -> str | None:
    return None if got == expected else f"{what}: expected {expected}, got {got}"


def _short(x, n: int = 3) -> str:
    if isinstance(x, (set, frozenset, list)):
        items = sorted(x, key=repr)[:n]
        return repr(items) + ("..." if len(x) > n else "")
    if isinstance(x, dict):
        return repr(dict(list(sorted(x.items()))[:n])) + ("..." if len(x) > n else "")
    return repr(x)
