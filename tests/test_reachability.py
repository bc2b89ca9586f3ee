"""Regrowth guard: nothing in kukur_spark/ is unreachable from the
verbs, the registry, the CLI, the bench or the scripts except the
documented keep-list (scripts/reachability.py)."""

import importlib.util
import os
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRIPT = os.path.join(_REPO, "scripts", "reachability.py")

spec = importlib.util.spec_from_file_location("reachability", _SCRIPT)
reach = importlib.util.module_from_spec(spec)
spec.loader.exec_module(reach)


def test_unreachable_set_is_the_keep_list():
    dead = set(reach.unreachable())
    assert sorted(dead - set(reach.KEEP)) == [], "delete it or add it to KEEP"
    assert sorted(set(reach.KEEP) - dead) == [], "stale KEEP entry"
    for name, reason in reach.KEEP.items():
        assert reason.strip() and "\n" not in reason, name


def _write(root, rel, body):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(textwrap.dedent(body))


def test_scan_follows_aliases_attributes_and_entry_modules(tmp_path):
    # `from pkg import submodule` runs the submodule's registrations
    root = str(tmp_path)
    _write(root, "kukur_spark/__init__.py", "")
    _write(root, "kukur_spark/ops/__init__.py", "from .core import via_reexport\n")
    _write(root, "kukur_spark/ops/core.py", """
        LIMIT = 3

        def via_reexport():
            return _helper()

        def _helper():
            return LIMIT

        def via_attribute():
            pass

        def only_tested():
            return _only_tested_helper()

        def _only_tested_helper():
            pass
    """)
    _write(root, "kukur_spark/cli.py", """
        def main():
            from kukur_spark.ops import core
            core.via_attribute()

        def unused():
            pass

        if __name__ == "__main__":
            main()
    """)
    _write(root, "kukur_spark/plugins.py", """
        from kukur_spark import plugin_a  # noqa: F401

        def unused_here():
            pass
    """)
    _write(root, "kukur_spark/plugin_a.py", """
        from kukur_spark.registry import register

        def registered():
            pass

        def not_registered():
            pass

        register("a", registered)
    """)
    _write(root, "kukur_spark/registry.py", """
        def register(name, fn):
            pass
    """)
    _write(root, "scripts/run.py", "from kukur_spark.ops import via_reexport\nvia_reexport()\nimport kukur_spark.plugins\n")
    _write(root, "tests/test_core.py", "from kukur_spark.ops.core import only_tested\n")
    assert set(reach.unreachable(root)) == {
        "kukur_spark.ops.core.only_tested",
        "kukur_spark.ops.core._only_tested_helper",
        "kukur_spark.cli.unused",
        "kukur_spark.plugins.unused_here",
        "kukur_spark.plugin_a.not_registered",
    }
