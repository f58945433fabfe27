"""docs/PORTING.md examples must run verbatim — the porting guide is an
executable contract, not prose.  Every fenced ```python block is exec'd
with only `spark` and `SF` provided and must bind a truthy `result`."""

from __future__ import annotations

import os
import re

import pytest

DOC = os.path.join(os.path.dirname(__file__), "..", "docs", "PORTING.md")
SF = "/root/testdata/sf0.001"

with open(DOC, encoding="utf-8") as f:
    _BLOCKS = re.findall(r"```python\n(.*?)```", f.read(), re.DOTALL)


def test_doc_has_examples():
    assert len(_BLOCKS) >= 6


@pytest.mark.parametrize("idx", range(len(_BLOCKS)))
def test_porting_example_runs(spark, idx):
    ns = {"spark": spark, "SF": SF}
    exec(compile(_BLOCKS[idx], f"PORTING.md block {idx}", "exec"), ns)
    assert ns.get("result"), f"block {idx} did not produce a truthy `result`"

