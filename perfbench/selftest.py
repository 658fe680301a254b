#!/usr/bin/env python3
"""Checker self-test: every answer check must pass on the right expected value
and fail on a deliberately wrong one.

Runs in milliseconds without Spark; ``run.py`` runs it before every workload
and refuses to measure when a check has gone blind.  Standalone:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from checks import check_count, check_read, check_set, check_write  # noqa: E402


def _term(v: str) -> dict:
    return {"type": "uri", "value": v} if v.startswith("http") else {"type": "literal", "value": v}


def _select_body(rows: list[dict]) -> bytes:
    return json.dumps({"head": {"vars": sorted(rows[0]) if rows else []},
                       "results": {"bindings": rows}}).encode()


def response_for(kind: str, expected) -> bytes:
    """The body a correct server would send for a read with this answer."""
    if kind == "point":
        return _select_body([{"g": _term(g), "p": _term(p), "o": _term(o)} for g, p, o in expected])
    if kind == "join":
        return _select_body([
            {"s": _term(s), "v": {"type": "literal", "value": v, "datatype": gen.XSD_INTEGER}}
            for s, v in expected
        ])
    if kind == "group":
        return _select_body([
            {"g": _term(g), "n": {"type": "literal", "value": str(n), "datatype": gen.XSD_INTEGER}}
            for g, n in expected.items()
        ])
    if kind == "ask":
        return json.dumps({"head": {}, "boolean": expected}).encode()
    lines = []
    for s, p, o in expected:
        obj = f"<{o}>" if o.startswith("http") else f'"{o}"' + ("@en" if o.startswith("tag") else "")
        lines.append(f"<{s}> <{p}> {obj} .")
    return ("\n".join(lines) + "\n").encode()


def wrong(expected):
    """A deliberately wrong expected value of the same shape."""
    if isinstance(expected, bool):
        return not expected
    if isinstance(expected, dict):
        return {**expected, "http://example.org/g-missing": 1}
    if isinstance(expected, set):
        extra = next(iter(expected)) if expected else ("x",)
        return (expected - {extra}) if len(expected) > 1 else expected | {tuple(f"{t}!" for t in extra)}
    raise TypeError(type(expected))


def run_selftest() -> list[str]:
    from workloads import Client, Run

    problems = []

    def expect(label: str, err_right, err_wrong) -> None:
        if err_right is not None:
            problems.append(f"{label}: rejects the right answer ({err_right})")
        if err_wrong is None:
            problems.append(f"{label}: accepts a wrong answer")

    # serve_mixed: fixed read answers, write responses, scratch graph
    preload = gen.Preload(seed=5, n_entities=400)
    client = Client(Run(None, 5, 1.0, "", None), preload, "http://unused", 0)
    for kind in gen.READ_KINDS:
        for _ in range(3):
            _m, _p, _b, _c, _k, (_rw, _kind, expected), _a = client.build(kind)
            body = response_for(kind, expected)
            expect(f"read {kind}", check_read(kind, expected, body), check_read(kind, wrong(expected), body))
    ok = json.dumps({"adds": 1, "deletes": 1}).encode()
    expect("write patch", check_write("patch", {"adds": 1, "deletes": 1}, 200, ok),
           check_write("patch", {"adds": 1, "deletes": 0}, 200, ok))
    expect("write status", check_write("insert", None, 200, b"{}"), check_write("insert", None, 500, b"{}"))
    live = set(client.live)
    expect("scratch graph", check_set("scratch", live, set(live)), check_set("scratch", wrong(live), set(live)))

    # ingest_trickle: net-effect model equality, exact store and DLQ counts
    model = gen.TrickleModel(seed=5)
    events = model.schedule(60, 10.0)
    final = set(model.live)
    replayed = set()
    for ev in events:          # an independent replay of the event stream
        replayed |= set(ev.adds)
        replayed -= set(ev.deletes)
    expect("trickle model", check_set("trickle", final, replayed), check_set("trickle", wrong(final), replayed))
    n_bad = sum(ev.kind == "bad" for ev in events)
    expect("trickle dlq", check_count("dlq", n_bad, model.n_bad), check_count("dlq", n_bad + 1, model.n_bad))
    n = preload.n_quads + len(final)
    expect("trickle count", check_count("quads", n, n), check_count("quads", n - 1, n))
    return problems


if __name__ == "__main__":
    found = run_selftest()
    for p in found:
        print("SELFTEST FAILED:", p)
    print("selftest:", "FAILED" if found else "ok")
    sys.exit(1 if found else 0)
