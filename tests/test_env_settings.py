"""The package reads the environment only for deployment settings and
safety checks. A value with one use in the code is a module constant,
not an environment override: each override keeps a code path alive that
no deployment runs.

The check is static: it parses every module and finds each read of
``os.environ`` (``.get``, ``[...]``, ``in``, ``os.getenv``, and local
names bound to ``os.environ``). A read whose key is not a string literal
cannot be checked, so it fails too."""

from __future__ import annotations

import ast
import pathlib

import streamandbatchprocessing_spark

#: Every environment variable the package may read.
ALLOWED = {
    # Deployment settings.
    "SBP_CHECKPOINT_DIR",
    "SBP_STAGING_DIR",
    "SBP_CONFIG",
    "KAFKA_BOOTSTRAP_SERVERS",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "XDG_CACHE_HOME",
    "PYSPARK_GATEWAY_PORT",
    # Safety checks.
    "SBP_VERIFY_TOKEN_HASH_INJECTIVITY",
}

PACKAGE = pathlib.Path(streamandbatchprocessing_spark.__file__).parent


def _is_environ(node: ast.AST, aliases: set[str]) -> bool:
    if isinstance(node, ast.Attribute) and node.attr == "environ":
        return True
    return isinstance(node, ast.Name) and (node.id == "environ" or node.id in aliases)


def _env_keys(module: ast.Module) -> list[ast.AST]:
    """The key expressions of every environment read in ``module``."""
    aliases = {
        t.id
        for n in ast.walk(module)
        if isinstance(n, ast.Assign) and "environ" in ast.unparse(n.value)
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    keys = []
    for n in ast.walk(module):
        if isinstance(n, ast.Call) and n.args:
            f = n.func
            if isinstance(f, ast.Attribute) and f.attr in ("get", "setdefault", "pop"):
                if _is_environ(f.value, aliases):
                    keys.append(n.args[0])
            elif ast.unparse(f) in ("os.getenv", "getenv"):
                keys.append(n.args[0])
        elif isinstance(n, ast.Subscript) and isinstance(n.ctx, ast.Load):
            if _is_environ(n.value, aliases):
                keys.append(n.slice)
        elif isinstance(n, ast.Compare) and len(n.ops) == 1:
            if isinstance(n.ops[0], (ast.In, ast.NotIn)) and _is_environ(
                n.comparators[0], aliases
            ):
                keys.append(n.left)
    return keys


def _reads() -> tuple[dict[str, list[str]], list[str]]:
    """({variable: [where it is read]}, [reads whose key is no literal])."""
    found: dict[str, list[str]] = {}
    unknown: list[str] = []
    for path in sorted(PACKAGE.rglob("*.py")):
        where = path.relative_to(PACKAGE.parent)
        for key in _env_keys(ast.parse(path.read_text())):
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                found.setdefault(key.value, []).append(f"{where}:{key.lineno}")
            else:
                unknown.append(f"{where}:{key.lineno} {ast.unparse(key)}")
    return found, unknown


def test_package_reads_only_allowed_environment_variables():
    found, unknown = _reads()
    assert not unknown, f"environment reads with no literal key: {unknown}"
    extra = {name: where for name, where in found.items() if name not in ALLOWED}
    assert not extra, (
        "environment variables read outside the allowlist (make a value "
        f"with one use a module constant): {extra}"
    )
    # The scan sees every read form in use: an allowed name nothing reads
    # means the scan missed it, or the setting is gone and leaves the list.
    assert set(found) == ALLOWED, sorted(ALLOWED - set(found))
