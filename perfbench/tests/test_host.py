import os

from perfbench import host


def _proc(tmp_path, procs):
    """A fake /proc: {pid: (comm, ppid, vmhwm_kb)}."""
    for pid, (comm, ppid, hwm) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
        (d / "status").write_text(f"Name:\t{comm}\nVmPeak:\t 99 kB\nVmHWM:\t {hwm} kB\n")
    return str(tmp_path)


def test_status_kb_reads_peak_rss(tmp_path):
    proc = _proc(tmp_path, {7: ("java", 1, 4_718_592)})
    assert host.status_kb(7, proc=proc) == 4_718_592
    assert host.status_kb(7, "VmPeak", proc=proc) == 99
    assert host.status_kb(os.getpid()) > 0          # the real /proc


def test_descendants_walks_the_tree(tmp_path):
    proc = _proc(tmp_path, {
        10: ("python3", 1, 1), 11: ("bash", 10, 1), 12: ("java", 11, 1),
        13: ("python3 (daemon)", 12, 1), 20: ("java", 1, 1)})
    assert host.descendants(10, proc) == {11: "bash", 12: "java", 13: "python3 (daemon)"}
    assert host.descendants(12, proc) == {13: "python3 (daemon)"}
    assert host.descendants(13, proc) == {}


def test_meminfo_and_heap(tmp_path):
    f = tmp_path / "meminfo"
    f.write_text("MemTotal:       16456384 kB\nMemFree:         1000 kB\n")
    assert host.meminfo_kb(path=str(f)) == 16456384
    assert host.meminfo_kb("MemFree", str(f)) == 1000
    assert host.heap_mb(16456384) == 8035            # half of MemTotal
    assert host.heap_mb(host.meminfo_kb()) * 1024 < host.meminfo_kb()
