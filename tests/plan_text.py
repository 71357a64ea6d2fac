"""The one plan-text helper of the tests: ``df.explain("formatted")``
captured as a string."""

import contextlib
import io


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()
