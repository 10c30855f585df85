"""Every environment variable the engine reads is documented.

The set of ``POPELINES_*`` names in the package source must equal the
set in README.md's "Configuration" table, so a new knob fails here until
its default and its reason are written down. No Spark session needed.
"""

import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
KNOB = re.compile(r"POPELINES_[A-Z_]+")


def _readme_table() -> set[str]:
    text = (REPO / "README.md").read_text()
    section = text.split("## Configuration", 1)[1].split("\n## ", 1)[0]
    rows = [ln for ln in section.splitlines() if ln.startswith("| `")]
    return {KNOB.search(ln).group(0) for ln in rows}


def test_env_knobs_match_readme_configuration_table():
    in_code = {
        name
        for path in (REPO / "popelines_spark").rglob("*.py")
        for name in KNOB.findall(path.read_text())
    }
    assert in_code == _readme_table()
