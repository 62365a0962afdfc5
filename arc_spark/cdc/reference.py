"""Brute-force reference replay — the correctness oracle.

Applies the change stream one event at a time, in strict ``seq`` order, in
plain Python on the driver. Deliberately the dumbest possible correct
implementation: this is what the distributed engine is verified against
(per-(repo,path) sha256(content) equality, BASELINE.json input_hint).

Reference parity: plays the role of the reference's golden-dataset
equality oracle ``TestUtils.datasetEquality``
(``src/test/scala/ai/tripl/arc/util/TestUtils.scala:89-125``).
Only ever run at tiny scale factors.
"""

from __future__ import annotations

import hashlib


def _normalize(content: str) -> str:
    """Must match both kernels of
    arc_spark.cdc.apply.normalize_and_fingerprint exactly."""
    import re

    out = content.replace("\r\n", "\n")
    out = re.sub(r"[ \t]+\n", "\n", out)
    out = re.sub(r"[ \t\r\n\f\v]+$", "", out)
    return out


def reference_replay(events: list[dict]) -> dict[tuple[str, str], dict]:
    """Replay ``events`` (dicts with seq/op/repo/path/... keys) in seq order.

    Returns {(repo, path): {"content": str, "sha256": str, "seq": int,
    "commit": str, "lang": str|None}} — the expected final table state.
    """
    state: dict[tuple[str, str], dict] = {}
    lang_enabled = True  # schema may start with lang; schema-change enables it
    for ev in sorted(events, key=lambda e: e["seq"]):
        op = ev["op"]
        if op == "schema-change":
            lang_enabled = True
            continue
        key = (ev["repo"], ev["path"])
        if op == "delete":
            state.pop(key, None)
            continue
        if op in ("insert", "update"):
            content = _normalize(ev["content"]) if ev["content"] is not None else None
            state[key] = {
                "content": content,
                "sha256": hashlib.sha256(content.encode("utf-8")).hexdigest()
                if content is not None
                else None,
                "seq": ev["seq"],
                "commit": ev["commit"],
                "lang": ev.get("lang"),
            }
        else:
            raise ValueError(f"unknown op {op!r}")
    return state
