"""No tuning knob may be read from the environment inside the library.

A ``WIMBD_*`` variable is an option that no test or benchmark covers
in any value but its default, so tuning values are module constants
and per-session Spark settings go through ``get_spark(extra_conf=)``.
Deployment settings (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``)
stay environment-configurable and sit outside the prefix. The scan is
a plain source read: any string literal starting with ``WIMBD_`` —
``os.environ[...]``, ``.get(...)``, ``os.getenv(...)`` or a name passed
through a helper — fails it."""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "wimbd_spark"

_WIMBD_LITERAL = re.compile(r"""[rRbBfF]*["'](WIMBD_\w*)""")


def test_no_wimbd_env_knobs():
    files = sorted(PKG.rglob("*.py"))
    assert files, f"no sources under {PKG}"
    bad = []
    for f in files:
        src = f.read_text(encoding="utf-8")
        for m in _WIMBD_LITERAL.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            bad.append(f"{f.relative_to(PKG.parent)}:{line}: {m.group(1)}")
    assert not bad, "library reads WIMBD_* tuning knobs:\n" + "\n".join(bad)
