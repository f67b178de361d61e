"""Every module of the package compiles with warnings as errors: an
invalid escape sequence in a plain string literal is a
DeprecationWarning today and a syntax error in later Pythons."""

import pathlib
import warnings

import cubes_spark

PACKAGE = pathlib.Path(cubes_spark.__file__).parent


def test_package_compiles_with_warnings_as_errors():
    failures = []
    for path in sorted(PACKAGE.rglob("*.py")):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except (SyntaxError, Warning) as exc:
                failures.append(f"{path.relative_to(PACKAGE.parent)}: {exc}")
    assert not failures, "\n".join(failures)
