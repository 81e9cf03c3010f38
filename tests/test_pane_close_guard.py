"""The pane-close state machine (greedy clustering -> window synthesis ->
carry-over) has one implementation: ``core.advance_pane``, which
``core.close_pane`` wraps.  Every engine closes panes through them, so
no module outside ``core.py`` calls the three steps itself."""

import ast
import pathlib

import kelos_on_kafka_spark

PACKAGE = pathlib.Path(kelos_on_kafka_spark.__file__).parent
STEPS = {"cluster_pane", "aggregate_window", "carry_from_window"}


def _step_calls(path: pathlib.Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in STEPS:
                yield f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {name}"


def test_pane_close_steps_are_called_only_in_core():
    core = PACKAGE / "core.py"
    assert len(list(_step_calls(core))) == len(STEPS)
    outside = [
        call
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != core
        for call in _step_calls(path)
    ]
    assert outside == []
