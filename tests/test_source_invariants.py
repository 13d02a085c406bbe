"""Where the engine may touch process env, persist blocks, reach into
the JVM query plan or report a radius join's distance: each in at most
one module, checked on the source."""

import pathlib

import pytest

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "geoengine"

# needle -> the one module allowed to contain it
OWNERS = {
    "os.environ": "session.py",  # env knobs are launch settings only
    ".cache(": "storage.py",  # every persisted block is scope-released
    ".persist(": "storage.py",
    ".localCheckpoint(": "storage.py",
    "_jdf.queryExecution": "gates.py",  # the plan-stats seam
    # the radius joins' refine-and-report tail lives in one core
    "exprs.km_as_unit(": "join.py",
}


@pytest.mark.parametrize("needle", list(OWNERS))
def test_needle_appears_only_in_its_owner(needle):
    hits = {p.name for p in ENGINE.glob("*.py") if needle in p.read_text()}
    assert hits <= {OWNERS[needle]}, sorted(hits)
