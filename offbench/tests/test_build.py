"""Self-tests of the runner's build reuse (no sbt needed).

    python3 -m unittest discover -s offbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402


class OutputDigest(unittest.TestCase):
    """A build is reused only while the compiled classes it recorded are
    still there, untouched by any later compile."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.classes = os.path.join(self.tmp.name, "classes")
        os.makedirs(os.path.join(self.classes, "graft"))
        self.cls = os.path.join(self.classes, "graft", "A.class")
        with open(self.cls, "wb") as f:
            f.write(b"one")
        self.jar = os.path.join(self.tmp.name, "dep.jar")
        open(self.jar, "w").close()
        self.classpath = os.pathsep.join([self.classes, self.jar])

    def tearDown(self):
        self.tmp.cleanup()

    def test_unchanged_classes_keep_the_digest(self):
        self.assertEqual(run.output_digest(self.classpath), run.output_digest(self.classpath))

    def test_a_recompiled_class_changes_it(self):
        before = run.output_digest(self.classpath)
        st = os.stat(self.cls)
        os.utime(self.cls, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
        self.assertNotEqual(run.output_digest(self.classpath), before)

    def test_an_added_or_removed_class_changes_it(self):
        before = run.output_digest(self.classpath)
        extra = os.path.join(self.classes, "graft", "B.class")
        open(extra, "w").close()
        self.assertNotEqual(run.output_digest(self.classpath), before)
        os.remove(extra)
        self.assertEqual(run.output_digest(self.classpath), before)

    def test_build_inputs_leave_out_build_outputs(self):
        inputs = run.build_inputs()
        self.assertIn(os.path.join(run.ROOT, "src", "main"), inputs)
        self.assertIn(os.path.join(run.HARNESS, "src"), inputs)
        self.assertFalse(any("target" in os.path.relpath(p, run.ROOT).split(os.sep)
                             for p in inputs), inputs)


if __name__ == "__main__":
    unittest.main()
