"""Guard against configuration-knob regrowth: the package may read only
the environment variables listed here. A new variable doubles the
configurations the tests must cover, so adding one means adding it here
deliberately (and documenting it in README.md §Configuration)."""

from __future__ import annotations

import ast
import os

import real_time_weather_data_pipeline_for_philippine_cities_spark as pkg

#: deployment settings (local[N] size, driver heap) and the lineage-cut
#: durability posture of session.materialize.
ALLOWED_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_CHECKPOINT",
    "SPARK_GRAFT_CHECKPOINT_DIR",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_keys(tree: ast.AST, where: str) -> set[str]:
    """Keys of every ``os.environ.get(k)``, ``os.environ[k]`` and
    ``os.getenv(k)`` read; a non-literal key is an error, since it could
    hide any name."""
    keys: set[str] = set()

    def literal(arg: ast.AST) -> None:
        assert isinstance(arg, ast.Constant) and isinstance(arg.value, str), (
            f"{where}:{arg.lineno}: environment key is not a string literal"
        )
        keys.add(arg.value)

    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            is_get = (
                isinstance(f, ast.Attribute)
                and f.attr == "get"
                and _is_environ(f.value)
            )
            is_getenv = (isinstance(f, ast.Attribute) and f.attr == "getenv") or (
                isinstance(f, ast.Name) and f.id == "getenv"
            )
            if is_get or is_getenv:
                literal(node.args[0])
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            if isinstance(node.ctx, ast.Load):
                literal(node.slice)
    return keys


def _package_env_keys() -> set[str]:
    root = os.path.dirname(os.path.abspath(pkg.__file__))
    keys: set[str] = set()
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    keys |= _env_keys(ast.parse(fh.read(), path), path)
    return keys


def test_package_reads_exactly_the_documented_env_vars():
    assert _package_env_keys() == ALLOWED_ENV


def test_env_scanner_sees_every_read_form():
    src = (
        "import os\n"
        "from os import environ, getenv\n"
        "a = os.environ.get('A', '1')\n"
        "b = os.environ['B']\n"
        "c = os.getenv('C')\n"
        "d = environ.get('D')\n"
        "e = getenv('E')\n"
        "os.environ['NOT_A_READ'] = 'x'\n"
    )
    assert _env_keys(ast.parse(src), "<src>") == {"A", "B", "C", "D", "E"}
