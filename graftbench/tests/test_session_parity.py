"""The benchmark's Spark session must match graft.Bench's.

Every `.config` that src/main/scala/graft/Bench.scala sets, with its
environment knobs at their defaults, must appear with the same value in
graftbench's BenchSession, which must also install the JaccardLengthFilter
rule and WARN logging. A probe that claims to be bench-identical while
missing confs is the drift this catches.

Run from the repository root: python3 -m unittest discover -s graftbench/tests
"""
import hashlib
import os
import re
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(HERE, "..", "..", "src", "main", "scala", "graft", "Bench.scala")
SESSION = os.path.join(HERE, "..", "src", "main", "scala", "graftbench", "BenchSession.scala")

LIT = r'"([^"]*)"'
ENV = r'sys\.env\.getOrElse\(\s*"[^"]*"\s*,\s*"([^"]*)"\s*\)'


def read(path):
    with open(path) as f:
        return f.read()


def config_calls(src):
    """(key, value expression) of every `.config(key, value)` call."""
    out = []
    for m in re.finditer(r"\.config\(", src):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(src[i], 0)
            i += 1
        body = re.sub(r"//[^\n]*", "", src[m.end():i - 1])
        key, expr = body.split(",", 1)
        out.append((re.fullmatch(r"\s*" + LIT + r"\s*", key).group(1), " ".join(expr.split())))
    return out


def default_value(expr):
    """The value an expression takes with every environment knob unset."""
    if expr == "cpus":
        return "<cpus>"
    m = re.fullmatch(LIT, expr) or re.fullmatch(ENV, expr)
    if m:
        return m.group(1)
    m = re.fullmatch(r"if \(" + ENV + r' == "([^"]*)"\) ' + LIT + " else " + LIT, expr)
    if m:
        return m.group(3) if m.group(1) == m.group(2) else m.group(4)
    raise ValueError(f"cannot evaluate Bench.scala config value: {expr}")


def bench_confs():
    return {k: default_value(e) for k, e in config_calls(read(BENCH))}


def session_confs():
    src = read(SESSION)
    body = src[src.index("def confs"):src.index("def build")]
    pairs = re.findall(LIT + r"\s*->\s*(" + LIT + r"|cpus\.toString)", body)
    return {k: ("<cpus>" if v == "cpus.toString" else v.strip('"')) for k, v, _ in pairs}


class SessionParityTest(unittest.TestCase):
    def test_bench_scala_parses_to_a_nonempty_conf_set(self):
        self.assertGreaterEqual(len(bench_confs()), 10)

    def test_every_bench_conf_is_set_with_the_same_value(self):
        mine = session_confs()
        for key, value in sorted(bench_confs().items()):
            with self.subTest(key=key):
                self.assertIn(key, mine, f"BenchSession does not set {key}")
                self.assertEqual(mine[key], value)

    def test_optimizer_rule_and_log_level(self):
        src = read(SESSION)
        self.assertIn("graft.plans.JaccardLengthFilter", src)
        self.assertIn('setLogLevel("WARN")', src)
        bench = read(BENCH)
        self.assertIn("graft.plans.JaccardLengthFilter", bench)
        self.assertIn('setLogLevel("WARN")', bench)

    def test_digest_of_the_parity_set(self):
        # printed for the record; the runtime digest is in each run's artifact
        lines = "\n".join(f"{k}={v}" for k, v in sorted(bench_confs().items()))
        print("\nBench.scala conf digest:", hashlib.sha256(lines.encode()).hexdigest()[:16])


if __name__ == "__main__":
    unittest.main()
