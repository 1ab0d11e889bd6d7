"""BENCH_FLOORS.json bookkeeping in bench.py — no Spark session needed."""

from __future__ import annotations

import json

import bench


def test_unreadable_floors_file_survives_save(tmp_path, monkeypatch):
    path = tmp_path / "BENCH_FLOORS.json"
    path.write_text('{"sf0.1@c32": {"floor": 0.04')  # truncated write
    monkeypatch.setattr(bench, "_FLOORS_PATH", str(path))
    assert bench._load_floors() is None
    bench._save_floor_key("sf1@c4", {"floor": 0.1, "confirmed": False})
    assert path.read_text() == '{"sf0.1@c32": {"floor": 0.04'


def test_missing_floors_file_is_created(tmp_path, monkeypatch):
    path = tmp_path / "BENCH_FLOORS.json"
    monkeypatch.setattr(bench, "_FLOORS_PATH", str(path))
    assert bench._load_floors() == {}
    bench._save_floor_key("sf1@c4", {"floor": 0.0, "confirmed": False})
    assert json.loads(path.read_text()) == {"sf1@c4": {"floor": 0.0, "confirmed": False}}

