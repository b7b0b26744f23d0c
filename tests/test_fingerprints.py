"""FINGERPRINTS.json is derived from the code: it must match what
tools/fingerprints.py computes now, and the hash rule must see every
code edit a builder reaches and no docstring or comment edit."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import fingerprints  # noqa: E402


def test_fingerprints_are_current():
    stored = json.loads(fingerprints.FINGERPRINTS.read_text())
    shas = fingerprints.compute()
    stale = sorted(
        n for n in shas.keys() | stored.keys() if stored.get(n, [None])[0] != shas.get(n)
    )
    assert not stale, (
        f"{len(stale)} stale fingerprints: {', '.join(stale)}. Run "
        "`python tools/fingerprints.py`, then the tools/driver_sim.py "
        "--only command it prints."
    )


TOY = {
    "__init__.py": "",
    "helpers.py": '''
SCALE = 3


def inner(x):
    return x * SCALE


def helper(x):
    """Scale, then add."""
    return inner(x) + x
''',
    "other.py": '''
def attr_helper(x):
    return x - 1


def unreached(x):
    return x
''',
    "queries.py": '''
from toy import other as other_mod
from toy.helpers import helper


def build(x):
    """The builder."""
    from toy.helpers import SCALE

    return helper(x) + other_mod.attr_helper(x) + SCALE
''',
}


def _digest(root, edit=None):
    files = dict(TOY)
    if edit:
        name, old, new = edit
        assert old in files[name]
        files[name] = files[name].replace(old, new)
    pkg = root / "toy"
    pkg.mkdir(parents=True)
    for name, text in files.items():
        (pkg / name).write_text(text)
    return fingerprints.Sources(root, "toy").digest(("toy.queries", "build"), "")


@pytest.mark.parametrize(
    "edit, changes",
    [
        (("queries.py", "+ SCALE\n", "+ SCALE + 1\n"), True),
        (("queries.py", "The builder.", "Builds the toy query."), False),
        (("helpers.py", '"""Scale, then add."""', "# Scale, then add."), False),
        (("helpers.py", "return x * SCALE", "return x * SCALE * 2"), True),
        (("helpers.py", "SCALE = 3", "SCALE = 4"), True),
        (("other.py", "return x - 1", "return x - 2"), True),
        (("other.py", "def unreached(x):\n    return x", "def unreached(x):\n    return -x"), False),
    ],
    ids=[
        "builder_body",
        "builder_docstring",
        "helper_docstring_to_comment",
        "transitive_helper",
        "constant_via_in_function_import",
        "module_attribute",
        "unreached_function",
    ],
)
def test_hash_rule_on_a_toy_package(tmp_path, edit, changes):
    base = _digest(tmp_path / "base")
    assert base == _digest(tmp_path / "again")
    assert (_digest(tmp_path / "edited", edit) != base) is changes
