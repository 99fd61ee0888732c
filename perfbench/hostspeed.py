"""Host speed: fixed calibration work that scales every end-to-end timing.

On a shared host the same code runs up to twice as slow from one second to
the next, and the benchmark's processes are slowed with everything else on
the machine. So a run times a fixed calibration block between operations,
outside their timed regions, and scales each operation's time by
`reference_s / t`, where `t` is the time of the first block after it
(`local`), or the run's median block: an operation's time is reported at
the host speed at which one block takes `reference_s`. A slower host
slows the operations and the blocks alike, and the ratio stays. Set-up
time is scaled by blocks timed right after each of its pieces
(`scale_now`) or by the run's median block.

There are two blocks, each kin to the work it calibrates and sharing no
code with the package, so a change to the package moves the operations
and not the blocks:

- `python_block`, for `compile`: a small compiler of its own (regex
  lexing into token objects, recursive-descent parsing into frozen
  dataclasses, a type-checking walk over dicts, string building), timed
  every `PYTHON_EVERY_S` seconds;
- `spark_block`, for the Spark workloads: one fixed job over `nproc`
  partitions of `spark.range`, timed after every operation. The Python
  block does not follow the Spark workloads: when the host slowed a
  `dialect` run 1.6–1.8 times, the Python block slowed 1.1–1.3 times and
  this job as much as the queries. A `batch` operation runs for seconds,
  longer than the host's swings, and one block after it varied more than
  the operation did, so `batch` times three blocks after each operation
  and scales by the run's median block.
"""

from __future__ import annotations

import random
import re
import statistics
import time
from dataclasses import dataclass

# each block's time at the reference host speed (about its time on a quiet
# 4-core x86-64 VM with CPython 3.12 and Spark 4.1)
PYTHON_REFERENCE_S = 0.01
SPARK_REFERENCE_S = 0.1
# the host's speed changes within a second; one compile takes under 3 ms
PYTHON_EVERY_S = 0.05
SPARK_ROWS_PER_PARTITION = 100_000

_TOKEN = re.compile(r"\s*(?:(\d+)|([A-Za-z_]\w*)|(\S))")
_TYPES = {"age": "number", "bonus": "number", "power": "number", "class": "string"}


@dataclass(frozen=True)
class _Tok:
    kind: str
    text: str


@dataclass(frozen=True)
class _Bin:
    op: str
    left: object
    right: object


@dataclass(frozen=True)
class _Leaf:
    value: object


def _expressions() -> list:
    rng = random.Random(7)

    def gen(depth):
        if depth == 0 or rng.random() < 0.3:
            if rng.random() < 0.6:
                return str(rng.randint(1, 99))
            return rng.choice(("age", "bonus", "power", "class"))
        return f"({gen(depth - 1)} {rng.choice(('+', '-', '*', '>'))} {gen(depth - 1)})"

    return [gen(5) for _ in range(200)]


_EXPRESSIONS = _expressions()


def _lex(text: str) -> list:
    out = []
    for m in _TOKEN.finditer(text):
        num, word, sym = m.groups()
        out.append(_Tok("num", num) if num else _Tok("word", word) if word else _Tok("sym", sym))
    return out


def _parse(toks: list, i: int):
    t = toks[i]
    if t.text == "(":
        left, i = _parse(toks, i + 1)
        op = toks[i].text
        right, i = _parse(toks, i + 1)
        return _Bin(op, left, right), i + 1
    return _Leaf(int(t.text) if t.kind == "num" else t.text), i + 1


def _check(node, names: dict) -> str:
    if isinstance(node, _Bin):
        left, right = _check(node.left, names), _check(node.right, names)
        return "boolean" if node.op == ">" else f"{left}|{right}"[:6]
    if isinstance(node.value, str):
        names[node.value] = _TYPES[node.value]
        return names[node.value]
    return "number"


def python_block() -> int:
    """Lex, parse and check 200 fixed expressions."""
    total = 0
    for text in _EXPRESSIONS:
        names: dict = {}
        total += len(_check(_parse(_lex(text), 0)[0], names)) + len(names)
    return total


def spark_block(spark, partitions: int):
    """A block that runs one fixed Spark job on `partitions` cores."""
    rows = SPARK_ROWS_PER_PARTITION * partitions

    def block() -> int:
        # outside every operation, so a traced run counts none of its jobs
        spark.sparkContext.setLocalProperty("perfbench.op", None)
        df = spark.range(0, rows, numPartitions=partitions)
        return df.selectExpr("sum(hash(id) % 7) AS s").collect()[0][0]

    return block


class Calibration:
    """The block times of one run."""

    def __init__(self, block, reference_s: float, every_s: float = 0.0,
                 blocks: int = 1, local: bool = True):
        self.block, self.reference_s, self.every_s = block, reference_s, every_s
        self.blocks, self.local = blocks, local
        self.expected = block()  # also the warm-up
        self.times: list = []
        self.last = time.perf_counter()

    def measure(self) -> None:
        for _ in range(self.blocks):
            t = time.perf_counter()
            if self.block() != self.expected:
                raise RuntimeError("calibration block gave a different result")
            self.last = time.perf_counter()
            self.times.append(self.last - t)

    def due(self) -> None:
        """Time the blocks if `every_s` have passed since the last."""
        if time.perf_counter() - self.last >= self.every_s:
            self.measure()

    def factor(self, i: int) -> float:
        """The scale of a time measured just before block `i`."""
        return self.reference_s / self.times[i] if self.local else self.run_factor()

    def scale_now(self, seconds: float, blocks: int = 3) -> float:
        """`seconds` just measured, scaled by the median of `blocks` blocks
        timed now."""
        for _ in range(blocks):
            self.measure()
        return seconds * self.reference_s / statistics.median(self.times[-blocks:])

    def run_factor(self) -> float:
        """The scale of set-up time: the run's median block."""
        return self.reference_s / statistics.median(self.times)
