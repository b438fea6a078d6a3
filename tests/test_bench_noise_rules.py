"""bench.py sampling and stdout rules.

Every row is the minimum of 5 samples taken in interleaved passes, and
no sampling decision reads a committed BENCH_* / CORRECTNESS_* record:
only the self-artifact naming does.  The stdout summary line stays
inside the ~2000-char stdout tail its consumer captures.  Pure unit
tests (no Spark)."""

from __future__ import annotations

import ast
import importlib.util
import json
import os


def _bench_module():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("bench", os.path.join(here, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_stdout_summary_line_fits_tail_capture():
    """The compact stdout record (no methods) must stay well under the
    round driver's ~2000-char tail window at the CURRENT headline size
    — the r7 artifact was lost to exactly this overflow.  Mirror the
    slim stdout copy (centisecond walls, no constant budget field) and
    upper-bound every wall at 99.99 s (no headline key has ever
    exceeded 10 s; one over 100 s would be a perf red flag caught by
    its own row)."""
    m = _bench_module()
    # TRUE worst case per key: the widest value _slim_wall can emit is
    # 4 chars ("0.99" — the centisecond cap closes the 5-char "0.092"
    # case; values >= 10 collapse to <=3-char ints), so model EVERY
    # wall at that width.  At r11 the headline reached 74 keys and the
    # uncapped worst case passed 1900 — the stdout copy now runs through
    # _capped_stdout_queries, which drops OLDEST-history keys first
    # until the map fits (the full map always lives in BENCH_SELF).
    times = {k: 0.99 for k in m.HEADLINE}
    times["gstream_epoch_20x100"] = 0.99
    times["gstream_estep_distributed"] = 0.99
    # Model the variable-width steal extra at its widest (8 entries on
    # the longest key names) — main() debits its serialized length from
    # the queries budget, so the modeled line must carry it.
    long_names = sorted(m.HEADLINE, key=len, reverse=True)
    extras = {"steal": {k: 99999999 for k in long_names[:8]}}
    extras_len = len(json.dumps(extras, separators=(",", ":")))
    capped = m._capped_stdout_queries(
        times, budget=m._STDOUT_QUERIES_BUDGET - extras_len
    )
    assert all(len(json.dumps(v)) <= 4 for v in capped.values())
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": 999999.999,
            "unit": "sec",
            "queries": capped,
            "sf": 0.1,
            "gstream_ms_per_batch": 9999.9,
            "estep_points_per_sec": 99999999,
            **extras,
            # truncation marker (ADVICE r11) at its widest plausible
            # value — it is part of the modeled stdout budget
            "q_dropped": 999,
        },
        separators=(",", ":"),
    )
    assert len(line) < 1900, len(line)
    # the NEWEST keys keep their stdout slot; only older keys may be
    # dropped, and the two gstream extras always survive
    tail_keys = list(m.HEADLINE)[-5:]
    assert all(k in capped for k in tail_keys)
    assert "gstream_epoch_20x100" in capped
    assert "gstream_estep_distributed" in capped
    dropped = [k for k in times if k not in capped]
    assert dropped == list(m.HEADLINE)[: len(dropped)]


def test_capped_stdout_rotation_covers_every_key_in_two_rounds():
    """VERDICT r13 item 2: the shed set must ROTATE so every headline
    key is driver-witnessed at least once in any two consecutive
    rounds (fixed oldest-first shedding left 25 keys permanently
    invisible)."""
    m = _bench_module()
    times = {k: 0.99 for k in m.HEADLINE}
    times["gstream_epoch_20x100"] = 0.99
    times["gstream_estep_distributed"] = 0.99
    even = m._capped_stdout_queries(times, shed_salt=14)
    odd = m._capped_stdout_queries(times, shed_salt=15)
    # both parities shed something at the current headline size
    assert len(even) < len(times) and len(odd) < len(times)
    # even rounds shed oldest-first (the historical behavior)
    dropped_even = [k for k in times if k not in even]
    assert dropped_even == list(m.HEADLINE)[: len(dropped_even)]
    # the two windows are disjoint: every key survives in at least one
    # of any two consecutive rounds
    assert set(times) == set(even) | set(odd)
    # the derived gstream rows and the 5 newest keys survive BOTH
    for k in list(m.HEADLINE)[-5:] + [
        "gstream_epoch_20x100",
        "gstream_estep_distributed",
    ]:
        assert k in even and k in odd


def test_slim_wall_two_significant_digits():
    """2 significant digits CAPPED at centiseconds: sub-0.1 walls would
    otherwise render 5+ chars ("0.025") and break the worst-case width
    bound the tail-line guard models."""
    m = _bench_module()
    assert m._slim_wall(61.437) == 61.0
    assert m._slim_wall(1.278) == 1.3
    assert m._slim_wall(0.0254) == 0.03
    assert m._slim_wall(0.926) == 0.93
    assert m._slim_wall(99.99) == 100.0
    assert all(
        len(json.dumps(m._slim_wall(v))) <= 4
        for v in (0.0049, 0.092, 0.926, 1.278, 9.99)
    )


def test_load_stamp_shape():
    """The steal-tick counter each sample's delta is taken from exists
    on Linux and is a monotone raw counter."""
    m = _bench_module()
    first = m._cpu_steal_ticks()
    assert isinstance(first, int) and first >= 0
    assert m._cpu_steal_ticks() >= first


def test_min_of_passes_interleaves_headline_and_reports_min():
    """Pass-major over HEADLINE: every key runs once per pass, so each
    key's 5 samples are spread over the run; each row reports the
    minimum of exactly 5 samples and carries 5 steal deltas."""
    m = _bench_module()
    assert m.SAMPLES == 5
    calls: list[str] = []

    def row(i, key):
        def run():
            calls.append(key)
            p = calls.count(key) - 1
            return float((p + i) % 5 + 1)

        return run

    times, methods = m._min_of_passes(
        {k: row(i, k) for i, k in enumerate(m.HEADLINE)}
    )
    assert calls == list(m.HEADLINE) * 5
    assert list(times) == list(m.HEADLINE)
    for i, k in enumerate(m.HEADLINE):
        assert methods[k]["method"] == "min5"
        assert methods[k]["samples"] == [float((p + i) % 5 + 1) for p in range(5)]
        assert times[k] == min(methods[k]["samples"]) == 1.0
        steal = methods[k]["steal"]
        assert len(steal) == 5 and all(d is None or d >= 0 for d in steal)


def test_self_artifact_round_naming(tmp_path, monkeypatch):
    """BENCH_SELF_r{N} is one past the newest round with a BENCH_r* or
    CORRECTNESS_r* record; a same-round refresh reuses its slot, and a slot
    written under an older round base is a committed record and is
    skipped."""
    m = _bench_module()
    monkeypatch.setattr(os.path, "abspath", lambda p: str(tmp_path / "bench.py"))
    (tmp_path / "BENCH_r02.json").write_text(json.dumps({"queries": {"a": 1.0}}))
    assert m._latest_driver_round() == 2
    assert m._next_round() == 3
    (tmp_path / "BENCH_SELF_r03.json").write_text(json.dumps({"_round_base": 2}))
    assert m._next_round() == 3
    (tmp_path / "BENCH_SELF_r03.json").write_text(json.dumps({"_round_base": 1}))
    assert m._next_round() == 4
    (tmp_path / "CORRECTNESS_r04.json").write_text("{}")
    assert m._latest_driver_round() == 4
    assert m._next_round() == 5


_LISTERS = {"glob", "iglob", "rglob", "listdir", "scandir", "walk"}
_HISTORY = ("BENCH_", "CORRECTNESS_")


def _reads_files(node) -> bool:
    """Whether ``node`` lists a directory, reads a file through pathlib,
    or opens for reading a path other than a literal that names no
    BENCH_* / CORRECTNESS_* file."""
    for call in (n for n in ast.walk(node) if isinstance(n, ast.Call)):
        f = call.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name in _LISTERS or name in ("read_text", "read_bytes"):
            return True
        if name != "open" or not call.args:
            continue
        mode = call.args[1] if len(call.args) > 1 else next(
            (k.value for k in call.keywords if k.arg == "mode"), None
        )
        if isinstance(mode, ast.Constant) and set(str(mode.value)) & set("wax"):
            continue
        path = call.args[0]
        literal = isinstance(path, ast.Constant) and isinstance(path.value, str)
        if not literal or any(h in path.value for h in _HISTORY):
            return True
    return False


def _history_readers(source: str) -> set[str]:
    """Top-level functions (and ``<module>`` code) of ``source`` that
    may read a committed run record."""
    found = set()
    for node in ast.parse(source).body:
        name = getattr(node, "name", "<module>")
        if not isinstance(node, ast.ClassDef) and _reads_files(node):
            found.add(name)
    return found


def test_only_round_naming_reads_committed_records():
    """What bench.py samples and reports must not depend on earlier
    runs: only the self-artifact naming may glob or read a BENCH_* /
    CORRECTNESS_* file."""
    probe = (
        "import glob\n"
        "def a():\n    return glob.glob('BENCH_r*.json')\n"
        "def b(path):\n    with open(path) as f:\n        return f.read()\n"
        "def c():\n    return open('CORRECTNESS_r01.json').read()\n"
        "def d():\n    return open('/proc/stat').readline()\n"
        "def e(path):\n    open(path, 'w').write('{}')\n"
    )
    assert _history_readers(probe) == {"a", "b", "c"}
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "bench.py")) as f:
        source = f.read()
    assert _history_readers(source) == {"_latest_driver_round", "_next_round"}
