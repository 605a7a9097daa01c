"""Guard for tools/unreached.py: every function that only tests reach
is listed in its ``KEEP`` table with a reason, and every ``KEEP`` name
still exists and is still reached by nothing else."""

import importlib.util
import os
import textwrap

_TOOL = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "unreached.py")
_spec = importlib.util.spec_from_file_location("unreached", _TOOL)
unreached = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(unreached)


def test_report_equals_keep():
    report, missing = unreached.scan()
    assert missing == [], f"KEEP names that are not defined: {missing}"
    assert set(report) == set(unreached.KEEP), (
        f"not in KEEP: {sorted(set(report) - set(unreached.KEEP))}; "
        f"KEEP but reached without it: {sorted(set(unreached.KEEP) - set(report))}"
    )
    assert all(reason.strip() for reason in unreached.KEEP.values())


def _write(root, rel, src):
    path = root / rel
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(textwrap.dedent(src))


def test_scan_rules(tmp_path):
    pkg = unreached.PKG
    _write(tmp_path, f"{pkg}/__init__.py", "from .mod import exported\n")
    _write(tmp_path, f"{pkg}/mod.py", """
        def exported():
            return _used_helper()

        def _used_helper():
            return 1

        def only_tested():
            return _helper_of_tested()

        def _helper_of_tested():
            return 2

        def _dead():
            return _dead()

        def kept():
            return kept_helper()

        def kept_helper():
            return 3

        @register("q")
        def entry():
            return by_string()

        def by_string():
            return 4

        def called_by_tool():
            return 5
    """)
    _write(tmp_path, f"{pkg}/plans.py", "x = getattr(object, 'by_string', None)\n")
    _write(tmp_path, "tools/t.py", "from p.mod import called_by_tool\n")
    _write(tmp_path, "tests/test_x.py", "only_tested(); kept(); gone()\n")

    keep = {"mod.kept": "reason", "mod.gone": "reason", "mod.exported": "reason"}
    report, missing = unreached.scan(str(tmp_path), keep)
    # a kept name is reported, its helper is not; a private helper of a
    # tested function is reported through that function; a private
    # name nothing reaches (recursion does not count) is reported
    assert report == ["mod._dead", "mod.kept", "mod.only_tested"]
    # a kept name the package reaches drops out of the report (stale)
    assert "mod.exported" not in report
    assert missing == ["mod.gone"]
