"""Workload definitions: which registered queries a run issues, in what order.

Membership is derived, never listed: every ``bench.HEADLINE`` row belongs
to the sequential group that owns the module its registered function is
defined in (``GROUPS``).  A HEADLINE row from a module no group owns
raises, so a new operator module cannot silently fall out of the
benchmark.

A full pass over a group takes 40-60 s at sf0.01 on 4 cores, almost all
of it fixed per-query cost (planning, job launch, JIT, Python workers),
while a whole run, 20 s of which go to JVM start and warm-up, is meant
to end within a minute.  So each sequential run issues a fixed stride of
its group (``STRIDE``), the same rows for every seed; the seed only fixes
the issue order.  Drawing a different subset per seed spread p50 latency
by 12-25% between seeds in a simulation over probe timings, wider than
any bound a regression check could use.
"""

from __future__ import annotations

import inspect
import random
import sys
import types

PACKAGE = "mini_pandas_spark."

# group -> modules (relative to the package) whose registered HEADLINE
# functions make up the group
GROUPS: dict[str, tuple[str, ...]] = {
    "analytics": (
        "operators.relational",
        "operators.events",
        "operators.sketches",
        "operators.layout",
    ),
    "corpus": (
        "operators.text",
        "operators.dedup",
        "operators.similarity",
        "multimodal.binary",
    ),
    "streaming": (
        "streaming.windows",
        "streaming.state_reader",
        "streaming.ingest",
        "sources.manifest_sink",
    ),
}

# every STRIDE-th member (HEADLINE order) of the group is issued per run,
# sized to a pass of about 20 s
STRIDE = {"analytics": 3, "corpus": 4, "streaming": 2}

# the concurrent pool takes every n-th member of the streaming group
# (three micro-batch drains, each with a sink of its own, running beside
# each other), then the first member of every grouped module not yet
# reached (``concurrent_pool``)
CONCURRENT_STRIDE = {"streaming": 7}
# a concurrent run issues the pool this many times, each round in its own
# seeded order, so every query repeats
CONCURRENT_ROUNDS = 4

SEQUENTIAL = tuple(GROUPS)
WORKLOADS = SEQUENTIAL + ("concurrent",)


def modules() -> list[str]:
    """Short names of every grouped module, e.g. ``text``."""
    return [m.rsplit(".", 1)[-1] for mods in GROUPS.values() for m in mods]


def module_of(fn) -> str:
    """Short module name of a registered query function, e.g. ``text``."""
    return fn.__module__.rsplit(".", 1)[-1]


def membership(headline: list[str], qs: dict) -> dict[str, list[str]]:
    """Group -> HEADLINE rows it owns, in HEADLINE order."""
    owner = {
        PACKAGE + mod: group for group, mods in GROUPS.items() for mod in mods
    }
    groups: dict[str, list[str]] = {g: [] for g in GROUPS}
    for name in headline:
        mod = qs[name].__module__
        if mod not in owner:
            raise ValueError(f"HEADLINE row {name!r} is in unowned module {mod}")
        groups[owner[mod]].append(name)
    return groups


def sequential_plan(workload: str, seed: int, headline, qs) -> list[str]:
    """The fixed stride of ``workload``'s group, shuffled by ``seed``."""
    rows = membership(headline, qs)[workload][:: STRIDE[workload]]
    random.Random(seed).shuffle(rows)
    return rows


def concurrent_pool(headline, qs) -> list[str]:
    """Fixed mix drawn from all three groups that reaches every grouped
    module: every ``CONCURRENT_STRIDE``-th row of the groups it names,
    then the first row (HEADLINE order) of each module not yet reached."""
    groups = membership(headline, qs)
    pool = [n for g, k in CONCURRENT_STRIDE.items() for n in groups[g][::k]]
    reached = {module_of(qs[n]) for n in pool}
    for g in SEQUENTIAL:
        for name in groups[g]:
            if module_of(qs[name]) not in reached:
                reached.add(module_of(qs[name]))
                pool.append(name)
    return pool


def concurrent_queue(seed: int, headline, qs) -> list[str]:
    """``CONCURRENT_ROUNDS`` copies of the pool, each round in its own
    seeded order; clients take issues from the front as they free up."""
    pool = concurrent_pool(headline, qs)
    rng = random.Random(seed)
    out: list[str] = []
    for _ in range(CONCURRENT_ROUNDS):
        batch = pool[:]
        rng.shuffle(batch)
        out.extend(batch)
    return out


def plan(workload: str, seed: int, headline, qs) -> list[str]:
    """The issues of one run of ``workload``, in issue order."""
    if workload == "concurrent":
        return concurrent_queue(seed, headline, qs)
    return sequential_plan(workload, seed, headline, qs)


def reachable_names(fn) -> set[str]:
    """Every name the code of ``fn`` mentions, following calls into any
    function of the package with a mentioned name.  An over-approximation
    of what ``fn`` may call, used to pick the warm-up steps a run needs."""
    index: dict[str, list] = {}
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PACKAGE):
            for n, obj in vars(mod).items():
                if inspect.isfunction(obj) and obj.__module__.startswith(PACKAGE):
                    index.setdefault(n, []).append(obj)
    fn = inspect.unwrap(fn)
    stack = [getattr(fn, "__code__", None) or fn.func.__code__]
    names: set[str] = set()
    seen: set = set()
    while stack:
        code = stack.pop()
        if code in seen:
            continue
        seen.add(code)
        stack.extend(c for c in code.co_consts if isinstance(c, types.CodeType))
        for n in code.co_names:
            names.add(n)
            stack.extend(f.__code__ for f in index.get(n, ()))
    return names


def builder_used(builder, names: set[str]) -> bool:
    """True when code reaching ``names`` uses what ``builder`` builds: it
    reaches the builder itself, or a memoizing function of the builder's
    own module (one touching a ``*_MEMO`` global) that the builder calls."""
    if builder.__name__ in names:
        return True
    g = builder.__globals__
    for n in builder.__code__.co_names:
        f = g.get(n)
        if (
            n in names
            and inspect.isfunction(f)
            and f.__module__ == builder.__module__
            and any(x.endswith("_MEMO") for x in f.__code__.co_names)
        ):
            return True
    return False
