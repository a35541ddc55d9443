"""scripts/dump_plans.py rewrites only the PLANS.md sections it generates."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "dump_plans", Path(__file__).resolve().parent.parent / "scripts" / "dump_plans.py"
)
dump_plans = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(dump_plans)

DOC = """# PLANS — header

Intro line.

## Generated A

old note A

```
old plan A
## not a heading: inside a fence
```

## Hand-written B (kgspark.ops.b)

Kept exactly,  trailing spaces and all.

## Generated C

old note C

```
old plan C
```
"""


def test_splice_replaces_generated_sections_and_keeps_the_rest():
    sections = [
        ("Generated A", "new note A", "new plan A\n"),
        ("Generated C", "new note C", "new plan C"),
        ("Generated D", "note D", "plan D"),
    ]
    out = dump_plans.splice_sections(DOC, sections)
    chunks = dump_plans._split_sections(out)
    assert [c.splitlines()[0] for c in chunks] == [
        "# PLANS — header",
        "## Generated A",
        "## Hand-written B (kgspark.ops.b)",
        "## Generated C",
        "## Generated D",
    ]
    old = dump_plans._split_sections(DOC)
    assert chunks[0] == old[0]
    assert chunks[2] == old[2]  # untouched section, byte-for-byte
    assert chunks[1] == "## Generated A\n\nnew note A\n\n```\nnew plan A\n```\n\n"
    assert chunks[3] == "## Generated C\n\nnew note C\n\n```\nnew plan C\n```\n\n"
    assert chunks[4] == "## Generated D\n\nnote D\n\n```\nplan D\n```\n"
    assert "old plan" not in out
    # regenerating is a fixpoint
    assert dump_plans.splice_sections(out, sections) == out


def test_splice_builds_a_fresh_file_from_the_header():
    out = dump_plans.splice_sections(dump_plans._HEADER, [("T", "n", "p")])
    assert out.startswith(dump_plans._HEADER)
    assert dump_plans._split_sections(out)[1] == "## T\n\nn\n\n```\np\n```\n"
