"""Self-tests for the benchmark's last-writer-wins model of ``execute``.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from workload import Model  # noqa: E402

ADD, REMOVE, ARCHIVE = 0, 1, 2


def _pos(ts: int, d: int) -> int:
    return ((ts * 1000) << 20) | d


def _store() -> Model:
    # vertex 10 of graph 1 has one Normal edge to 100
    return Model([(1, 10, 100, 5, 50, 0, 0)], [(1, 10, 1, 0, 50)])


def test_resurrection_takes_the_new_position():
    m = _store().apply_batch([[REMOVE, 1, 10, 100, 60], [ADD, 1, 10, 100, 70]])
    assert m.get(10, 1, 100) == [1, 10, 100, _pos(70, 100), 70, 0, 0]
    assert m.get_metadata(10, 1) == [1, 10, 1, 0, 70]


def test_an_older_write_loses():
    m = _store().apply_batch([[REMOVE, 1, 10, 100, 40]])
    assert m.get(10, 1, 100) == [1, 10, 100, 5, 50, 0, 0]
    assert m.contains(10, 1, 100)


def test_duplicate_timestamps_resolve_by_priority():
    m = _store().apply_batch([[ADD, 1, 10, 100, 60], [REMOVE, 1, 10, 100, 60]])
    assert m.get(10, 1, 100)[-1] == REMOVE
    assert not m.contains(10, 1, 100)


def test_mass_archive_forces_new_edges_and_recounts():
    m = _store().apply_batch([[ARCHIVE, 1, 10, None, 80], [ADD, 1, 10, 200, 75]])
    assert m.get(10, 1, 100) == [1, 10, 100, 5, 80, 0, ARCHIVE]
    assert m.get(10, 1, 200)[-1] == ARCHIVE
    assert m.get_metadata(10, 1) == [1, 10, 2, ARCHIVE, 80]


def test_pages_follow_the_service_order():
    m = Model([(3, 1, d, 10 * d, 1, 0, 0) for d in range(1, 8)], [])
    first = m.edge_page(3, 1, True, (0,), 3, None)
    assert first == {"rows": [[70, 7], [60, 6], [50, 5]], "next": [50, 5]}
    second = m.edge_page(3, 1, True, (0,), 3, first["next"])
    assert [r[1] for r in second["rows"]] == [4, 3, 2]
    assert m.id_page([["t", 3, 1, True]], 5, [3, 3]) == {"ids": [2, 1], "next": None}
