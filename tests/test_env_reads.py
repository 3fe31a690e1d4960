"""The package reads the process environment in one module: session.py,
for the deployment settings ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM``. Engine behaviour is decided by the code from
what it observes (sizes, split counts), never by an environment switch,
so every code path the engine can take is one the tests can reach."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "franzoxide_spark"
_ENV_READ = re.compile(r"\b(environ|getenv)\b")


def test_only_session_reads_the_environment():
    offenders = [
        f"{path.relative_to(PKG.parent)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _ENV_READ.search(line)
    ]
    assert not offenders, "\n".join(offenders)
