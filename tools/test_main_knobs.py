"""Unit tests for tools/main_knobs.py over small synthetic Scala trees.

Run: python3 -m unittest tools/test_main_knobs.py
"""
import os
import sys
import tempfile
import textwrap
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import main_knobs  # noqa: E402


def names(rows):
    """The `<method or class>.<param>` of each census row."""
    return {row.split(" ")[1] for row in rows}


class CensusTest(unittest.TestCase):

    def census(self, files):
        """Census of a tree holding `files` ({relative path: source})."""
        with tempfile.TemporaryDirectory() as root:
            for rel, src in files.items():
                path = os.path.join(root, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "w", encoding="utf-8") as fh:
                    fh.write(textwrap.dedent(src))
            return main_knobs.census(root)

    def test_never_set_default_is_listed(self):
        n, never, _, _ = self.census({
            "src/main/scala/a/Ops.scala": """
                object Ops {
                  def f(x: Int, y: Int = 3): Int = x + y
                  def g(x: Int = 1): Int = x
                }
            """,
            "src/test/scala/a/OpsSpec.scala": """
                object OpsSpec {
                  Ops.f(1)
                  Ops.g(x = 2)
                }
            """,
        })
        self.assertEqual(n, 2)
        self.assertEqual(names(never), {"f.y"})

    def test_one_literal_on_a_required_parameter_is_listed(self):
        _, _, required, _ = self.census({
            "src/main/scala/a/Ops.scala": """
                object Ops {
                  def g(a: String, b: Int): String = a * b
                }
            """,
            "src/main/scala/a/Use.scala": """
                object Use {
                  val x = Ops.g("event_date", 1)
                  val y = Ops.g(a = "event_date", b = 2)
                }
            """,
        })
        self.assertIn("g.a", names(required))

    def test_two_different_literals_are_not_listed(self):
        _, _, required, _ = self.census({
            "src/main/scala/a/Ops.scala": """
                object Ops {
                  def g(a: String, b: Int): String = a * b
                }
            """,
            "src/test/scala/a/OpsSpec.scala": """
                object OpsSpec {
                  Ops.g("x", 1)
                  Ops.g("x", 2)
                }
            """,
        })
        self.assertNotIn("g.b", names(required))

    def test_forwarded_identifier_is_not_listed(self):
        _, _, required, _ = self.census({
            "src/main/scala/a/Ops.scala": """
                object Ops {
                  def inner(c: String): String = c
                  def outer(c: String): String = inner(c)
                }
            """,
            "src/test/scala/a/OpsSpec.scala": """
                object OpsSpec {
                  Ops.outer("text")
                }
            """,
        })
        self.assertNotIn("inner.c", names(required))
        self.assertIn("outer.c", names(required))

    def test_function_value_use_is_not_listed(self):
        _, _, required, _ = self.census({
            "src/main/scala/a/Ops.scala": """
                object Ops {
                  def h(n: Int): Int = n
                }
            """,
            "src/test/scala/a/OpsSpec.scala": """
                object OpsSpec {
                  Ops.h(4)
                  Seq(1, 2).map(Ops.h)
                }
            """,
        })
        self.assertNotIn("h.n", names(required))

    def test_default_every_setter_restates_is_listed(self):
        _, never, required, defaulted = self.census({
            "src/main/scala/a/Ops.scala": """
                object Ops {
                  def d(x: Int = 5): Int = x
                  def e(x: Double = 0.7): Double = x
                  def k(x: Int = 5): Int = x
                }
            """,
            "src/test/scala/a/OpsSpec.scala": """
                object OpsSpec {
                  Ops.d(5)
                  Ops.d()
                  Ops.e(x = 0.5)
                  Ops.e(0.5)
                  Ops.k(5)
                  Ops.k(6)
                }
            """,
        })
        # d: the setter restates the default; e: every call passes one
        # literal, so the default is dead; k: two values are in use
        self.assertEqual(names(defaulted), {"d.x", "e.x"})
        self.assertEqual(never, [])
        self.assertEqual(required, [])

    def test_owner_qualified_call_resolves_to_its_own_object_only(self):
        _, _, required, _ = self.census({
            "src/main/scala/a/A.scala": """
                object A {
                  def run(n: Int): Int = n
                }
            """,
            "src/main/scala/a/B.scala": """
                object B {
                  def run(n: Int): Int = n
                }
            """,
            "src/test/scala/a/Spec.scala": """
                object Spec {
                  A.run(1)
                  A.run(1)
                  B.run(2)
                  B.run(3)
                }
            """,
        })
        rows = [r for r in required if " run.n " in r]
        self.assertEqual(len(rows), 1)
        self.assertIn("A.scala", rows[0])


if __name__ == "__main__":
    unittest.main()
