"""Change-aware window rotation (VERDICT r11 "What's wrong" #1).

``tools/rotate_window.py`` must force-include any catalog query whose
backing module set changed since the previous round boundary, so the
driver's 50-query CORRECTNESS window always samples code the round
actually touched — staleness-only rotation let r11's multimodal codec
rewrites miss the r11 window."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "rotate_window.py",
)
_spec = importlib.util.spec_from_file_location("rotate_window", _TOOL)
rw = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(rw)


def test_synthetic_diff_forces_dependent_queries():
    # gif.py is imported by functions/multimodal.py which backs the
    # catalog/multimodal.py queries — a gif.py edit must force all of
    # them, and ONLY modules that transitively reach gif.py
    forced, attribution, skipped = rw.forced_queries(
        ["foglamp_filter_python35_spark/functions/gif.py"]
    )
    assert skipped == []
    assert set(attribution) == {
        "foglamp_filter_python35_spark/functions/gif.py"
    }
    assert {"multimodal_meta", "multimodal_frames", "multimodal_resize",
            "multimodal_dedup", "multimodal_features"} <= set(forced)
    assert "pricing_summary" not in forced
    assert "moving_average" not in forced


def test_catalog_module_edit_forces_only_its_queries():
    forced, _, _ = rw.forced_queries(
        ["foglamp_filter_python35_spark/catalog/signal.py"]
    )
    assert "moving_average" in forced and "zscore_anomaly" in forced
    assert "multimodal_meta" not in forced


def test_non_package_files_force_nothing():
    assert rw.forced_queries(["tools/plan_audit.py", "bench.py"])[0] == []


def test_init_edit_forces_everything_but_is_not_traversed():
    # a catalog/__init__.py change touches every query (dsum etc.)...
    from foglamp_filter_python35_spark.catalog import all_queries

    forced, _, _ = rw.forced_queries(
        ["foglamp_filter_python35_spark/catalog/__init__.py"]
    )
    assert len(forced) == len(all_queries())
    # ...but an unrelated leaf edit must NOT fan out through the lazy
    # all-catalog imports inside catalog/__init__.all_queries()
    forced, _, _ = rw.forced_queries(
        ["foglamp_filter_python35_spark/functions/tiff.py"]
    )
    assert set(forced) <= {
        "multimodal_meta", "multimodal_frames", "multimodal_resize",
        "multimodal_dedup", "multimodal_features",
    }


def test_window_rotation_edits_do_not_force_anything():
    # catalog/window.py is rotation bookkeeping: each round edits it,
    # and that edit must not mark every query changed (which would
    # degrade r(N+1)'s rotation back to staleness-only)
    assert rw.forced_queries(
        ["foglamp_filter_python35_spark/catalog/window.py"]
    )[0] == []


def test_forced_queries_displace_freshest_greens_only():
    names = [f"q{i}" for i in range(8)]
    latest_green = {n: i for i, n in enumerate(names)}  # q0 stalest
    window = rw.suggest_window(
        names, latest_green, set(names), forced=["q7"], window=4
    )
    # forced q7 leads, then the three stalest greens; the freshest
    # non-forced greens (q4..q6) are the ones displaced
    assert window == ["q7", "q0", "q1", "q2"]


def test_never_green_still_outranks_forced():
    names = ["a", "b", "c"]
    latest_green = {"b": 5, "c": 9}
    window = rw.suggest_window(
        names, latest_green, {"a", "b", "c"}, forced=["c"], window=2
    )
    assert window == ["a", "c"]


def test_forced_block_is_staleness_ordered_under_overflow():
    # r12 advisor: when a widely-imported file forces MORE queries than
    # the window holds, the truncation must drop the freshest-evidence
    # forced queries, not silently repeat the current prefix — i.e. the
    # forced block itself is ordered stalest-first
    names = [f"q{i}" for i in range(6)]
    latest_green = {n: i for i, n in enumerate(names)}  # q0 stalest
    window = rw.suggest_window(
        names, latest_green, set(names), forced=list(reversed(names)),
        window=3,
    )
    assert window == ["q0", "q1", "q2"]  # stalest survive the cut


def test_unchanged_file_is_non_semantic_vs_head(tmp_path, monkeypatch):
    # a file identical to its boundary version must not force anything
    # (the AST comparison sees no semantic diff).  The boundary is a
    # throwaway repo whose HEAD holds this very file, so the premise
    # holds even while the real checkout has uncommitted edits to it.
    import shutil
    import subprocess

    rel = "foglamp_filter_python35_spark/catalog/__init__.py"
    (tmp_path / os.path.dirname(rel)).mkdir(parents=True)
    shutil.copyfile(os.path.join(rw._REPO, rel), tmp_path / rel)
    git = ["git", "-c", "user.name=t", "-c", "user.email=t@t",
           "-c", "commit.gpgsign=false"]
    for args in (["init", "-q"], ["add", rel], ["commit", "-q", "-m", "b"]):
        subprocess.run(git + args, cwd=tmp_path, check=True,
                       capture_output=True)
    monkeypatch.setattr(rw, "_REPO", str(tmp_path))
    forced, attribution, skipped = rw.forced_queries([rel], boundary="HEAD")
    assert forced == [] and attribution == {}
    assert skipped == [rel]


def test_docstring_stripping_ignores_doc_only_diffs(tmp_path):
    import ast
    a = ast.dump(rw._strip_docstrings(ast.parse(
        '"""doc one"""\ndef f():\n    """inner"""\n    return 1\n')))
    b = ast.dump(rw._strip_docstrings(ast.parse(
        '"""doc CHANGED"""\ndef f():\n    """inner CHANGED"""\n    return 1\n')))
    c = ast.dump(rw._strip_docstrings(ast.parse(
        '"""doc one"""\ndef f():\n    """inner"""\n    return 2\n')))
    assert a == b  # docstring-only diff -> identical
    assert a != c  # code diff -> different
