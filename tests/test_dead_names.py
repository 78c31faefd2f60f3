"""No dead names in the package: every top-level def, class and
assignment of a ``json_schema_modern_spark`` module, and every non-dunder
method, is mentioned somewhere in the tracked ``.py`` files outside its own
definition.  A name search, not a call graph: a mention in a comment or a
docstring counts.  Pure Python, no Spark."""

import ast
import os
import re
import subprocess
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "json_schema_modern_spark/"
ALLOWED = {"__version__"}


def _definitions(tree: ast.Module):
    """(name, node) of each top-level def/class/assignment and each
    non-dunder method of a top-level class."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
            for m in node.body if isinstance(node, ast.ClassDef) else ():
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                        and not (m.name.startswith("__") and m.name.endswith("__")):
                    yield m.name, m
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            for target in node.targets if isinstance(node, ast.Assign) else [node.target]:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        yield n.id, node


def test_every_package_name_is_mentioned():
    files = subprocess.run(["git", "ls-files", "*.py"], cwd=REPO, check=True,
                           capture_output=True, text=True).stdout.split()
    texts = {}
    for path in files:
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            texts[path] = f.read()
    mentions = Counter(w for text in texts.values() for w in re.findall(r"\w+", text))
    dead = []
    for path, text in texts.items():
        if not path.startswith(PACKAGE):
            continue
        lines = text.splitlines()
        for name, node in _definitions(ast.parse(text)):
            own = sum(re.findall(r"\w+", line).count(name)
                      for line in lines[node.lineno - 1:node.end_lineno])
            if name not in ALLOWED and mentions[name] == own:
                dead.append(f"{path}:{node.lineno} {name}")
    assert not dead, "names nothing mentions:\n" + "\n".join(dead)
