"""SQL template catalog — the reference's named-query semantics.

This is the closest analog of the reference gateway's core feature
(`config.json` `queries` + route synthesis, `index.js:93-128,264-325`):
a named SQL template with

- positional `?` variables (the reference counts them to build path
  params, `lib/examiner.js:66-68`; auto-quoted values,
  `README.md:184`), and
- named `$var` parameters usable as values or identifiers
  (`lib/examiner.js:198-208`, `README.md:186-199`).

The Spark-native re-expression is strictly safer:

- `?` slots become auto-named parameters bound via
  ``spark.sql(sql, args={...})`` — literal binding, injection
  impossible by construction (vs. the reference's handlebars string
  expansion + regex veto);
- value parameters use Spark's native ``:name`` markers;
- identifier parameters must appear as ``IDENTIFIER(:name)`` in the
  template and are validated against the catalog schema before
  binding (vs. `alphaNumericRegex`, `lib/examiner.js:37`);
- a missing parameter raises MissingParameterError — the reference's
  route error (`index.js:294-296`).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from data_wrangler_spark.catalog import Catalog

_QMARK = re.compile(r"\?")
_STRING_LITERAL = re.compile(r"'[^']*'")
_IDENTIFIER_USE = re.compile(r"IDENTIFIER\(\s*:(\w+)\s*\)", re.IGNORECASE)
_NAMED = re.compile(r":(\w+)")


class MissingParameterError(ValueError):
    """A declared template parameter was not supplied (index.js:294-296)."""


class AmbiguousTemplateError(KeyError):
    """A bare template name matches queries in more than one database
    namespace — the caller must qualify it as ``db.name``."""


@dataclass(frozen=True)
class SQLTemplate:
    name: str
    sql: str  # with ?-slots already rewritten to :p1..:pN
    n_positional: int
    named_params: tuple[str, ...]
    identifier_params: tuple[str, ...]
    doc: str = ""


@dataclass
class SQLTemplates:
    """Per-catalog template registry: ``register`` then ``run``.

    Names are scoped per source database the way the reference scopes
    its query maps per backend (`config.json:19-24` vs `:33-38`; the
    per-db ``queryInfo`` maps at `index.js:57,113`): registering with
    ``db="test"`` stores the template under ``test.<name>``, and two
    databases may therefore define the same query name without
    colliding. Lookup accepts the qualified ``db.name`` always, and a
    bare name as a convenience when exactly one namespace defines it
    (AmbiguousTemplateError otherwise)."""

    catalog: Catalog
    _templates: dict[str, SQLTemplate] = field(default_factory=dict)

    def register(
        self, name: str, sql: str, doc: str = "", db: str | None = None
    ) -> SQLTemplate:
        if db is not None:
            name = f"{db}.{name}"
        if name in self._templates:
            raise ValueError(f"duplicate template: {name}")
        # rewrite ? slots (outside string literals) to :p1..:pN
        counter = 0

        def sub(m: re.Match) -> str:
            nonlocal counter
            counter += 1
            return f":p{counter}"

        # protect quoted literals from the ?-rewrite
        literals: list[str] = []

        def stash(m: re.Match) -> str:
            literals.append(m.group(0))
            return f"\x00{len(literals) - 1}\x00"

        protected = _STRING_LITERAL.sub(stash, sql)
        rewritten = _QMARK.sub(sub, protected)
        for i, lit in enumerate(literals):
            rewritten = rewritten.replace(f"\x00{i}\x00", lit)

        ident_params = tuple(dict.fromkeys(_IDENTIFIER_USE.findall(rewritten)))
        all_named = tuple(
            n
            for n in dict.fromkeys(_NAMED.findall(rewritten))
            if not re.fullmatch(r"p\d+", n)
        )
        value_params = tuple(n for n in all_named if n not in ident_params)
        tpl = SQLTemplate(
            name=name,
            sql=rewritten,
            n_positional=counter,
            named_params=value_params,
            identifier_params=ident_params,
            doc=doc,
        )
        self._templates[name] = tpl
        return tpl

    def names(self) -> list[str]:
        return sorted(self._templates)

    def alias(self, name: str, target: str, db: str | None = None) -> SQLTemplate:
        """Register ``db.name`` as an alternate name for the already-
        registered ``target`` template (same object — no copy, so a
        bare-name lookup that matches both spellings is NOT
        ambiguous). Lets the catalog expose the reference's literal
        config.json keys while keeping earlier names working."""
        if db is not None:
            name = f"{db}.{name}"
        if name in self._templates:
            raise ValueError(f"duplicate template: {name}")
        tpl = self.get(target)
        self._templates[name] = tpl
        return tpl

    def get(self, name: str) -> SQLTemplate:
        if name in self._templates:
            return self._templates[name]
        # bare-name convenience lookup across db namespaces; aliases
        # of one template count as one match
        matches = [
            k
            for k in self._templates
            if "." in k and k.rsplit(".", 1)[1] == name
        ]
        if len({id(self._templates[k]) for k in matches}) == 1:
            return self._templates[matches[0]]
        if matches:
            raise AmbiguousTemplateError(
                f"template name {name!r} exists in multiple databases "
                f"({sorted(matches)}); qualify it as db.name"
            )
        raise KeyError(name)

    def run(self, spark: SparkSession, name: str, *positional, **named) -> DataFrame:
        """Bind ``positional`` / ``named`` into template ``name`` and
        return its DataFrame. The query runs on the catalog's own
        session (``Catalog.register_views``), not on ``spark``, so a
        call writes no state into the caller's session."""
        tpl = self.get(name)
        name = tpl.name
        if len(positional) != tpl.n_positional:
            raise MissingParameterError(
                f"{name}: expected {tpl.n_positional} positional params, "
                f"got {len(positional)}"
            )
        missing = [p for p in (*tpl.named_params, *tpl.identifier_params) if p not in named]
        if missing:
            raise MissingParameterError(f"{name}: missing named params {missing}")
        # identifier params: must name a known table or a column of a
        # known table — checked against real schema, not a regex
        for p in tpl.identifier_params:
            self._validate_identifier(str(named[p]))
        session = self.catalog.register_views()
        args = {f"p{i + 1}": v for i, v in enumerate(positional)}
        args.update({k: named[k] for k in (*tpl.named_params, *tpl.identifier_params)})
        return session.sql(tpl.sql, args=args)

    def _validate_identifier(self, ident: str) -> None:
        from data_wrangler_spark.catalog import TABLES, UnknownIdentifierError

        if ident in TABLES:
            return
        for t in TABLES:
            if ident in self.catalog.table(t).columns:
                return
        raise UnknownIdentifierError(f"unknown identifier: {ident!r}")
