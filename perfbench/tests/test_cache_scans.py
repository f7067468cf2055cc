"""core.cache_scans sees a cached frame and does not see an uncached one.
Builds the runner and starts one small Spark session (about 15 s)."""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import build  # noqa: E402
import run  # noqa: E402


class CacheScans(unittest.TestCase):
    def test_probe_counts_only_cached_reads(self):
        cp = build.build()
        with tempfile.TemporaryDirectory() as root:
            cmd = ["java", "-Xmx1g", f"-Djava.io.tmpdir={root}", f"-Dspark.local.dir={root}",
                   "-Dspark.ui.enabled=false"]
            for p in run.ADD_OPENS:
                cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
            out = subprocess.run(cmd + ["-cp", cp, "graftbench.SelfTest", root],
                                 capture_output=True, text=True, timeout=170, cwd=root)
            self.assertEqual(out.returncode, 0, out.stderr[-3000:])
            got = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
        self.assertEqual(got["uncached"], 0)
        self.assertGreaterEqual(got["cached"], 1)


if __name__ == "__main__":
    unittest.main()
