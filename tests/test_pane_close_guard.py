"""The pane-close state machine (greedy clustering -> window synthesis ->
carry-over -> window pipeline) has one implementation:
``core.close_pane``.  Every engine closes panes through it, so no module
outside ``core.py`` calls the three pane steps itself.  Panes are
buffered and sequenced only by ``core.PaneSequence``, so no module
outside ``core.py`` builds a ``core.ShardState`` of its own."""

import ast
import pathlib

import kelos_on_kafka_spark

PACKAGE = pathlib.Path(kelos_on_kafka_spark.__file__).parent
STEPS = {"cluster_pane", "aggregate_window", "carry_from_window"}


def _step_calls(path: pathlib.Path, names=STEPS):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in names:
                yield f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {name}"


def _outside_core(names):
    core = PACKAGE / "core.py"
    return [
        call
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != core
        for call in _step_calls(path, names)
    ]


def test_pane_close_steps_are_called_only_in_core():
    core = PACKAGE / "core.py"
    assert len(list(_step_calls(core))) == len(STEPS)
    assert _outside_core(STEPS) == []


def test_shard_state_is_built_only_in_core():
    assert _outside_core({"ShardState"}) == []
