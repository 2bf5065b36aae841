"""The package's own settings inventory.

Everything else the engine needs comes from constants or from what Spark
itself exposes (e.g. the SparkContext checkpoint dir that picks the pin
path), so the only repo-specific knobs are the five below. An AST scan,
so docstrings and comments that name a setting don't count.
"""

from __future__ import annotations

import ast
import pathlib

import airbnb_listings_reviews_data_engineering_spark as pkg

ALLOWED_CONFS = {"spark.airbnb.staging.root"}
ALLOWED_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_STAGE_ROOT",
    "SPARK_GRAFT_ATOMIC_FAILPOINT",
}


def _setting_literals(prefix: str) -> dict[str, list[str]]:
    """Every non-docstring string literal in the package starting with
    ``prefix`` -> the files it appears in."""
    found: dict[str, list[str]] = {}
    root = pathlib.Path(pkg.__file__).parent
    for py in sorted(root.rglob("*.py")):
        tree = ast.parse(py.read_text())
        docstrings = {
            id(n.value)
            for n in ast.walk(tree)
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
        }
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and n.value.startswith(prefix)
                and id(n) not in docstrings
            ):
                found.setdefault(n.value, []).append(str(py.relative_to(root)))
    return found


def test_only_staging_root_conf_is_read():
    confs = _setting_literals("spark.airbnb.")
    assert set(confs) == ALLOWED_CONFS, confs


def test_only_four_env_settings_are_read():
    env = _setting_literals("SPARK_GRAFT_")
    assert set(env) == ALLOWED_ENV, env
