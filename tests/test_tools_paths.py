"""The scripts under tools/ locate the checkout from their own path, so a
copy of the repository (e.g. a `git archive` export) runs and checks its
own engine and writes its own outputs, never another checkout's."""

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")


def _tool_sources():
    for name in sorted(os.listdir(TOOLS)):
        path = os.path.join(TOOLS, name)
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as f:
                yield name, f.read()


def test_tools_do_not_hard_code_a_checkout():
    absolute_import_root = re.compile(r"sys\.path\.insert\(\s*0,\s*[\"']/")
    for name, text in _tool_sources():
        assert REPO not in text, name
        assert not absolute_import_root.search(text), name
