"""The open-loop landing generator of ``connect_stream``.

The JVM lands the backlog, starts the stream and writes ``go.json`` with
the steady phase's start. From then on this generator lands one staged file
per interval into the watched directory: it stamps the due time as the
file's mtime and renames it into place atomically, so a listing never sees
a partial file or a wrong mtime. The schedule is fixed by ``go.json`` and
never waits on the stream; each landing records how late it ran.
"""
import json
import os
import shutil
import threading
import time


def stage(gen_dir, names, stage_dir):
    os.makedirs(stage_dir, exist_ok=True)
    for n in names:
        shutil.copyfile(os.path.join(gen_dir, n), os.path.join(stage_dir, n))


def _now_ms():
    return time.time() * 1000.0


def land_phase(phase_dir, names, interval_ms, stop):
    """Lands ``names`` from ``phase_dir/steady`` on the phase's schedule;
    returns one record per landed file. Gives up when ``stop`` is set."""
    go = os.path.join(phase_dir, "go.json")
    while not os.path.exists(go):
        if stop.wait(0.005):
            return []
    with open(go) as f:
        spec = json.load(f)
    out = []
    for i, name in enumerate(names):
        due = spec["steady_start_ms"] + i * interval_ms
        while True:
            left = due - _now_ms()
            if left <= 0:
                break
            # sleep to just short of the due time, then spin onto it
            if left > 2 and stop.wait((left - 1.5) / 1000.0):
                return out
        src = os.path.join(phase_dir, "steady", name)
        ns = int(due * 1e6)
        os.utime(src, ns=(ns, ns))
        os.rename(src, os.path.join(spec["land_dir"], name))
        out.append({"file": name, "due_ms": due, "landed_ms": _now_ms(), "phase": "steady"})
    tmp = os.path.join(phase_dir, "landed.tmp")
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.rename(tmp, os.path.join(phase_dir, "landed.json"))
    return out


class Generator:
    """One thread landing the steady files of each phase in turn."""

    def __init__(self, work, phases, names, interval_ms):
        self.stop = threading.Event()
        self.landings = {}

        def run():
            for ph in phases:
                self.landings[ph] = land_phase(os.path.join(work, ph), names, interval_ms,
                                               self.stop)
                if self.stop.is_set():
                    return

        self.thread = threading.Thread(target=run, name="landing-generator", daemon=True)

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.stop.set()
        self.thread.join()
