"""Every ``ddaugner_spark`` source file compiles with warnings raised as
errors: an invalid string escape (a backslash before ``|`` in a
docstring, say) is a DeprecationWarning on this Python and a
SyntaxWarning on newer ones, printed on every import."""

import pathlib
import warnings

PKG = pathlib.Path(__file__).resolve().parent.parent / "ddaugner_spark"


def test_package_sources_compile_with_warnings_as_errors():
    sources = sorted(PKG.rglob("*.py"))
    assert sources
    bad = []
    for path in sources:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except (SyntaxError, Warning) as exc:
                bad.append(f"{path.relative_to(PKG.parent)}: {exc}")
    assert not bad, bad
