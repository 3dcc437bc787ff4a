"""The one portable-SQL kernel behind every analyzer stemmer.

Each stemmer module (porter.py, snowball_*.py) renders its algorithm
as ONE SQL expression that Spark SQL and DuckDB evaluate
identically, so the same generator feeds the Spark plan and the
DuckDB oracle. This module owns how that expression is written per
engine; the language modules own only their steps:

- ``let`` binds a value to a lambda variable (a one-element
  array/list transform): the only way to name an intermediate in
  both dialects without a subquery.
- ``struct`` builds the carried state (word, skeleton, region
  starts, flags) with ``named_struct`` / ``struct_pack``.
- ``Frag`` renders tests and edits over a bound state variable.
- ``render`` nests the prelude lets and the ``x0..xN`` step chain
  (one binding per step: nesting DEPTH, not text size, is what
  sends DuckDB's binder into the weeds).

Region starts are 1-based positions computed once from a CV
skeleton (vowel ``a``, non-vowel ``b``) bound as ``g1`` =
(w, c); ``length(w) + 1`` means an empty region.
"""

from __future__ import annotations

ENGINES = ("spark", "duck")


def check_engine(engine: str) -> None:
    if engine not in ENGINES:
        raise ValueError(f"unknown engine {engine!r}")


def let(engine: str, bind: str, var: str, body: str) -> str:
    """``body`` with ``var`` bound to ``bind`` (evaluated once)."""
    if engine == "spark":
        return (f"element_at(transform(array({bind}), "
                f"{var} -> {body}), 1)")
    return f"(list_transform([{bind}], {var} -> {body}))[1]"


def struct(engine: str, **fields: str) -> str:
    """Struct literal with ``fields`` in the order given."""
    if engine == "spark":
        inner = ", ".join(f"'{k}', {v}" for k, v in fields.items())
        return f"named_struct({inner})"
    inner = ", ".join(f"{k} := {v}" for k, v in fields.items())
    return f"struct_pack({inner})"


def quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def quote_list(items) -> str:
    return ", ".join(quote(i) for i in items)


def fold(ref: str, chars: str, sym: str) -> str:
    """Map every char of ``chars`` to the one-char ``sym``."""
    return f"translate({ref}, '{chars}', '{sym * len(chars)}')"


def skeleton(ref: str, vowels: str, cons: str) -> str:
    """CV skeleton: ``vowels`` -> a, ``cons`` -> b."""
    return fold(fold(ref, vowels, "a"), cons, "b")


_LN = "length(g1.w)"


def r1(c: str = "g1.c") -> str:
    """R1 start: just after the first non-vowel following a vowel."""
    p1 = f"instr({c}, 'ab')"
    return f"CASE WHEN {p1} = 0 THEN {_LN} + 1 ELSE {p1} + 2 END"


def r2(c: str = "g1.c") -> str:
    """R2 start: the R1 rule applied again inside R1."""
    p1 = f"instr({c}, 'ab')"
    q = f"instr(substr({c}, {p1} + 2), 'ab')"
    return (f"CASE WHEN {p1} = 0 OR {q} = 0 THEN {_LN} + 1 "
            f"ELSE {p1} + 2 + {q} + 1 END")


def romance_rv() -> str:
    """RV start for spanish/portuguese/italian/romanian: after the
    next vowel if the second letter is a consonant, after the next
    consonant if the first two are vowels, else after the third
    letter."""
    j1 = "instr(substr(g1.c, 3), 'a')"
    j2 = "instr(substr(g1.c, 3), 'b')"
    return (f"CASE WHEN {_LN} < 3 THEN {_LN} + 1 "
            f"WHEN substr(g1.c, 2, 1) = 'b' THEN "
            f"(CASE WHEN {j1} = 0 THEN {_LN} + 1 ELSE {j1} + 3 END) "
            f"WHEN left(g1.c, 2) = 'aa' THEN "
            f"(CASE WHEN {j2} = 0 THEN {_LN} + 1 ELSE {j2} + 3 END) "
            f"ELSE 4 END")


class Frag:
    """SQL fragments over a state struct bound to variable ``x``.

    Subclasses name the carried ``fields`` (``w`` first; a ``c``
    field is the skeleton, cut and extended in lockstep with the
    word), the values a cut sets unless told otherwise
    (``on_cut``), and ``rep_cv`` for the skeleton of an appended
    replacement."""

    fields: tuple[str, ...] = ("w",)
    on_cut: dict[str, str] = {}
    rep_cv = None

    def __init__(self, engine: str, x: str):
        self.engine, self.x = engine, x
        for f in self.fields:
            setattr(self, f, f"{x}.{f}")
        self.ln = f"length({x}.w)"

    def keep(self, **over: str | None) -> str:
        """The carried struct with the non-None ``over`` fields
        replaced."""
        return struct(self.engine, **{
            f: getattr(self, f) if over.get(f) is None else over[f]
            for f in self.fields})

    def cut(self, n: int, rep: str = "", cv: str | None = None,
            **over: str | None) -> str:
        """Struct after dropping n chars and appending ``rep``
        (skeleton ``cv``, by default ``rep_cv(rep)``)."""
        over = {**self.on_cut, **over}
        over["w"] = f"substr({self.w}, 1, {self.ln} - {n})"
        if rep:
            over["w"] += f" || '{rep}'"
        if "c" in self.fields:
            over["c"] = f"substr({self.c}, 1, {self.ln} - {n})"
            if rep:
                cv = self.rep_cv(rep) if cv is None else cv
                over["c"] += f" || '{cv}'"
        return self.keep(**over)

    def ends(self, suf: str) -> str:
        return f"right({self.w}, {len(suf)}) = '{suf}'"

    def in_rv(self, n: int) -> str:
        return f"{self.ln} - {n} + 1 >= {self.rv}"

    def in_r1(self, n: int) -> str:
        return f"{self.ln} - {n} + 1 >= {self.r1}"

    def in_r2(self, n: int) -> str:
        return f"{self.ln} - {n} + 1 >= {self.r2}"

    def prev_char(self, n: int) -> str:
        """The char just before the last n."""
        return f"substr({self.w}, {self.ln} - {n}, 1)"

    def prev_in_rv(self, n: int) -> str:
        """The char just before the last n lies in RV."""
        return f"{self.ln} - {n} >= {self.rv}"


def render(engine: str, frag: type[Frag], seed: str, steps,
           final, prelude=()) -> str:
    """The step chain ``x0 = seed``, ``x{i+1} = steps[i](x{i})``,
    result ``final(x{N})``, nested inside the ``prelude`` lets
    ((var, bind) pairs, outermost first)."""
    check_engine(engine)
    body = final(frag(engine, f"x{len(steps)}"))
    for i in range(len(steps) - 1, -1, -1):
        body = let(engine, steps[i](frag(engine, f"x{i}")),
                   f"x{i + 1}", body)
    body = let(engine, seed, "x0", body)
    for var, bind in reversed(prelude):
        body = let(engine, bind, var, body)
    return body
