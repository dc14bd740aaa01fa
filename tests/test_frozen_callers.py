"""The benchmark entry points, tools and jobs build ``CdcEngine`` and call
``apply_log`` with keyword arguments, and several of them are kept
byte-stable. A keyword the engine no longer accepts would only fail when
that script next runs, so this test parses every caller (no Spark session,
no import of the caller) and checks each keyword against the current
signature. Code held in string literals (the child scripts some tools run
in a fresh interpreter) is parsed and checked too."""

import ast
import inspect
import pathlib

from translator_ingests_spark.cdc.apply import CdcEngine

REPO = pathlib.Path(__file__).resolve().parents[1]
CALLERS = sorted(
    [REPO / "bench.py", REPO / "__spark_entry__.py"]
    + [p for d in ("cdcbench", "tools", "jobs") for p in (REPO / d).glob("*.py")]
)
SIGNATURES = {
    "CdcEngine": inspect.signature(CdcEngine.__init__),
    "apply_log": inspect.signature(CdcEngine.apply_log),
}


def _calls(tree: ast.AST):
    """(callee, call node) for every CdcEngine(...) / .apply_log(...) call,
    descending into string constants that parse as Python."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in SIGNATURES:
                yield name, node
        elif (
            isinstance(node, ast.Constant) and isinstance(node.value, str)
            and ("CdcEngine(" in node.value or ".apply_log(" in node.value)
        ):
            try:
                inner = ast.parse(node.value)
            except SyntaxError:
                continue
            yield from _calls(inner)


def test_caller_keywords_match_engine_signatures():
    bad, seen = [], 0
    for path in CALLERS:
        for name, call in _calls(ast.parse(path.read_text())):
            seen += 1
            params = SIGNATURES[name].parameters
            for kw in call.keywords:
                if kw.arg is not None and kw.arg not in params:
                    bad.append(f"{path.relative_to(REPO)}:{call.lineno} {name}({kw.arg}=...)")
    assert seen >= 20, f"found only {seen} calls: the caller scan is broken"
    assert not bad, "keywords the engine does not accept:\n" + "\n".join(bad)


def test_scan_flags_a_removed_keyword():
    src = 'CdcEngine(spark, root, no_such_knob=1)\nCHILD = """\ne.apply_log(df, gone=2)\n"""'
    found = [
        (name, kw.arg) for name, call in _calls(ast.parse(src)) for kw in call.keywords
        if kw.arg not in SIGNATURES[name].parameters
    ]
    assert found == [("CdcEngine", "no_such_knob"), ("apply_log", "gone")]
