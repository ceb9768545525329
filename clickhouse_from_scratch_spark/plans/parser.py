"""Recursive-descent parser for the ClickHouse SQL dialect.

Structure mirrors the reference's parser combinators:
- SELECT clause order: ``ParserSelectQuery.cpp`` (WITH, SELECT [DISTINCT
  [ON]], FROM, [ARRAY] JOIN, PREWHERE, WHERE, GROUP BY [ROLLUP/CUBE/
  GROUPING SETS] [WITH TOTALS], HAVING, ORDER BY [WITH FILL], LIMIT [BY]
  [WITH TIES], OFFSET, SETTINGS).
- Expression precedence chain: ``ExpressionListParsers.h:22-539``
  (lambda → ternary → OR → AND → NOT → comparison/IN/LIKE/BETWEEN/IS →
  concat ``||`` → additive → multiplicative → unary → postfix
  ``:: [] .`` → element).
- Parse-time canonicalization to named functions and rewrites
  (BETWEEN → ``>= AND <=``, ternary → ``if``, TOP → LIMIT,
  DISTINCT ON → LIMIT 1 BY, ``agg(DISTINCT)`` → ``aggDistinct``,
  FILTER(WHERE) → ``aggIf``) exactly as the reference does
  (``ExpressionListParsers.cpp:402-531``, ``ParserSelectQuery.cpp:363-376``).
"""

from __future__ import annotations

from .ast_nodes import (
    Alias, ArrayJoinClause, ArrayLiteral, Cast, FuncCall, GroupBy,
    Identifier, IntervalExpr, Join, Lambda, LimitBy, Literal, OrderItem,
    SelectQuery, Star, Subquery, SubqueryRef, TableFunction, TableRef,
    QueryParameter, TupleLiteral, UnionQuery, WindowSpec,
)
from .lexer import T, Token, tokenize

_INTERVAL_UNITS = {"SECOND", "MINUTE", "HOUR", "DAY", "WEEK", "MONTH",
                   "QUARTER", "YEAR"}

# words that terminate an expression list / cannot start an expression
_CLAUSE_KW = {
    "FROM", "WHERE", "PREWHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
    "OFFSET", "SETTINGS", "UNION", "INTERSECT", "EXCEPT", "INTO", "FORMAT",
    "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ON", "USING",
    "ASOF", "SEMI", "ANTI", "ANY", "ALL", "GLOBAL", "ARRAY", "WITH", "BY",
    "ASC", "DESC", "NULLS", "THEN", "ELSE", "WHEN", "END", "AS", "WINDOW",
    "QUALIFY",
}


class ParseError(ValueError):
    pass


def parse(sql: str) -> SelectQuery | UnionQuery:
    return Parser(sql).parse_query()


class Parser:
    def __init__(self, sql: str) -> None:
        self.sql = sql
        self.toks = tokenize(sql)
        self.i = 0

    # --- token helpers ----------------------------------------------------

    @property
    def tok(self) -> Token:
        return self.toks[self.i]

    def peek(self, k: int = 1) -> Token:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def advance(self) -> Token:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept_kw(self, *words: str) -> bool:
        if self.tok.is_kw(*words):
            self.advance()
            return True
        return False

    def accept_kws(self, *seq: str) -> bool:
        """Accept a keyword sequence atomically."""
        save = self.i
        for w in seq:
            if not self.accept_kw(w):
                self.i = save
                return False
        return True

    def expect_kw(self, word: str) -> None:
        if not self.accept_kw(word):
            raise ParseError(f"expected {word}, got {self.tok.text!r} "
                             f"at {self.tok.pos}")

    def accept_op(self, *ops: str) -> bool:
        if self.tok.is_op(*ops):
            self.advance()
            return True
        return False

    def expect_op(self, op: str) -> None:
        if not self.accept_op(op):
            raise ParseError(f"expected {op!r}, got {self.tok.text!r} "
                             f"at {self.tok.pos}")

    # --- query ------------------------------------------------------------

    def parse_query(self) -> SelectQuery | UnionQuery:
        q = self._union()
        self.accept_op(";")
        if self.tok.kind != T.EOF:
            raise ParseError(f"trailing input at {self.tok.pos}: "
                             f"{self.tok.text!r}")
        return q

    def _union(self) -> SelectQuery | UnionQuery:
        """SELECT ... [UNION [ALL|DISTINCT] | INTERSECT | EXCEPT ...]*"""
        selects: list[SelectQuery | UnionQuery] = [self._select_or_paren()]
        modes: list[str] = []
        while True:
            if self.accept_kw("UNION"):
                if self.accept_kw("DISTINCT"):
                    modes.append("distinct")
                elif self.accept_kw("ALL"):
                    modes.append("all")
                else:
                    # bare UNION: mode resolved at build time from the
                    # union_default_mode setting (Settings.h:491 —
                    # Unspecified default THROWS; 'ALL'/'DISTINCT' pick)
                    modes.append("")
            elif self.accept_kw("INTERSECT"):
                # bare INTERSECT keeps left-side duplicates (the
                # reference era has no ALL/DISTINCT variants —
                # SelectUnionMode.h:8-15; ALL is the published default)
                if self.accept_kw("DISTINCT"):
                    modes.append("intersect")
                else:
                    self.accept_kw("ALL")
                    modes.append("intersect_all")
            elif self.accept_kw("EXCEPT"):
                if self.accept_kw("DISTINCT"):
                    modes.append("except")
                else:
                    self.accept_kw("ALL")
                    modes.append("except_all")
            else:
                break
            selects.append(self._select_or_paren())
        if len(selects) == 1:
            return selects[0]
        return UnionQuery(selects, modes)

    def _select_or_paren(self) -> SelectQuery | UnionQuery:
        if self.accept_op("("):
            q = self._union()
            self.expect_op(")")
            return q
        return self._select()

    def _select(self) -> SelectQuery:
        q = SelectQuery()
        # WITH: CTEs (name AS (subquery) | (subquery) AS name) or scalar
        # aliases (expr AS name) usable anywhere (CH alias visibility)
        if self.accept_kw("WITH"):
            while True:
                q.ctes.append(self._with_element())
                if not self.accept_op(","):
                    break
        self.expect_kw("SELECT")
        if self.accept_kw("DISTINCT"):
            q.distinct = True
            if self.accept_kw("ON"):
                self.expect_op("(")
                q.distinct_on = self._expr_list()
                self.expect_op(")")
        if self.accept_kw("TOP"):   # TOP n → LIMIT n (ParserSelectQuery:374)
            q.limit = int(self.advance().text)
            if self.accept_kws("WITH", "TIES"):
                q.with_ties = True
        q.select = [self._select_item()]
        while self.accept_op(","):
            q.select.append(self._select_item())
        if self.accept_kw("FROM"):
            q.from_ = self._from_clause()
        # [LEFT] ARRAY JOIN
        aj_left = False
        save = self.i
        if self.accept_kw("LEFT") and self.accept_kws("ARRAY", "JOIN"):
            aj_left = True
        else:
            self.i = save
        if aj_left or self.accept_kws("ARRAY", "JOIN"):
            exprs = [self._aliased_expr()]
            while self.accept_op(","):
                exprs.append(self._aliased_expr())
            q.array_join = ArrayJoinClause(exprs, left=aj_left)
        if self.accept_kw("PREWHERE"):
            q.prewhere = self._expr()
        if self.accept_kw("WHERE"):
            q.where = self._expr()
        if self.accept_kws("GROUP", "BY"):
            q.group_by = self._group_by()
            if self.accept_kws("WITH", "ROLLUP"):
                q.group_by.mode = "rollup"
            elif self.accept_kws("WITH", "CUBE"):
                q.group_by.mode = "cube"
            if self.accept_kws("WITH", "TOTALS"):
                q.group_by.with_totals = True
        if self.accept_kw("HAVING"):
            q.having = self._expr()
        # WINDOW w AS (spec), ...  (named windows, ParserSelectQuery WINDOW)
        if self.accept_kw("WINDOW"):
            while True:
                wname = self.advance().text
                self.expect_kw("AS")
                q.windows[wname] = self._window_spec()
                if not self.accept_op(","):
                    break
        if self.accept_kw("QUALIFY"):
            # QUALIFY: post-window-function filter (the window analogue
            # of HAVING; public ClickHouse grammar)
            q.qualify = self._expr()
        if self.accept_kws("ORDER", "BY"):
            q.order_by = [self._order_item()]
            while self.accept_op(","):
                q.order_by.append(self._order_item())
            if self.accept_kw("INTERPOLATE"):
                # INTERPOLATE (col [AS expr], …) — fill-row value rule
                self.expect_op("(")
                while True:
                    col = self.advance().text
                    expr = self._expr() if self.accept_kw("AS") else None
                    q.interpolate.append((col, expr))
                    if not self.accept_op(","):
                        break
                self.expect_op(")")
        self._limits(q)
        if self.accept_kw("SETTINGS"):
            while True:
                name = self.advance().text
                self.expect_op("=")
                q.settings[name] = self._literal_value()
                if not self.accept_op(","):
                    break
        # DISTINCT ON (e) → LIMIT 1 BY e  (ParserSelectQuery.cpp:363-372)
        if q.distinct_on is not None:
            q.limit_by = LimitBy(1, 0, q.distinct_on)
            q.distinct = False
            q.distinct_on = None
        return q

    def _with_element(self):
        # name AS (subquery) | expr [AS alias]
        if (self.tok.kind == T.IDENT and not self.tok.is_kw(*_CLAUSE_KW)
                and self.peek().is_kw("AS") and self.peek(2).is_op("(")
                and self.peek(3).is_kw("SELECT", "WITH")):
            name = self.advance().text
            self.advance()              # AS
            self.expect_op("(")
            sub = self._union()
            self.expect_op(")")
            return (name, sub)
        expr = self._expr()
        self.expect_kw("AS")
        name = self.advance().text
        return (name, expr)

    def _limits(self, q: SelectQuery) -> None:
        # LIMIT [o,] n [WITH TIES] [BY exprs] / OFFSET / FETCH
        if self.accept_kw("LIMIT"):
            a = int(self.advance().text)
            if self.accept_op(","):
                b = int(self.advance().text)
                first_off, first_n = a, b
            else:
                first_off, first_n = 0, a
                if self.tok.is_kw("OFFSET") and self.peek(2).is_kw("BY"):
                    # LIMIT n OFFSET m BY k (same as LIMIT m, n BY k)
                    self.advance()
                    first_off = int(self.advance().text)
            with_ties = bool(self.accept_kws("WITH", "TIES"))
            if self.accept_kw("BY"):
                q.limit_by = LimitBy(first_n, first_off, self._expr_list())
                # a second LIMIT may follow LIMIT BY
                self._limits(q)
                return
            q.limit = first_n
            q.offset = first_off or None
            q.with_ties = with_ties
            if self.accept_kw("OFFSET"):
                q.offset = int(self.advance().text)
            return
        if self.accept_kw("OFFSET"):
            q.offset = int(self.advance().text)
            self.accept_kw("ROW") or self.accept_kw("ROWS")
        if self.accept_kw("FETCH"):
            # FETCH FIRST n ROWS [ONLY | WITH TIES], with or without a
            # preceding OFFSET clause (standard fetch-first grammar)
            self.accept_kw("FIRST") or self.accept_kw("NEXT")
            q.limit = int(self.advance().text)
            self.accept_kw("ROW") or self.accept_kw("ROWS")
            if self.accept_kws("WITH", "TIES"):
                q.with_ties = True
            else:
                self.accept_kw("ONLY")

    def _group_by(self) -> GroupBy:
        # GROUP BY () — explicit empty grouping = one global group
        if self.tok.is_op("(") and self.peek().is_op(")"):
            self.advance()
            self.advance()
            return GroupBy([])
        # GROUP BY ALL → every non-aggregate SELECT expression (expanded
        # by the builder, which knows the select list)
        if (self.tok.is_kw("ALL")
                and (self.peek().is_kw(*_CLAUSE_KW) or self.peek().is_op(")")
                     or self.peek().kind == T.EOF)):
            self.advance()
            return GroupBy([], mode="all")
        if self.accept_kw("ROLLUP"):
            self.expect_op("(")
            g = GroupBy(self._expr_list(), mode="rollup")
            self.expect_op(")")
            return g
        if self.accept_kw("CUBE"):
            self.expect_op("(")
            g = GroupBy(self._expr_list(), mode="cube")
            self.expect_op(")")
            return g
        if self.accept_kws("GROUPING", "SETS"):
            self.expect_op("(")
            sets: list[list] = []
            while True:
                self.expect_op("(")
                sets.append([] if self.tok.is_op(")") else self._expr_list())
                self.expect_op(")")
                if not self.accept_op(","):
                    break
            self.expect_op(")")
            all_exprs: list = []
            for s in sets:
                for e in s:
                    if repr(e) not in {repr(x) for x in all_exprs}:
                        all_exprs.append(e)
            return GroupBy(all_exprs, mode="grouping_sets", grouping_sets=sets)
        return GroupBy(self._expr_list())

    def _order_item(self) -> OrderItem:
        item = OrderItem(self._expr())
        if self.accept_kw("DESC") or self.accept_kw("DESCENDING"):
            item.desc = True
        else:
            self.accept_kw("ASC") or self.accept_kw("ASCENDING")
        if self.accept_kw("COLLATE"):
            item.collate = self.advance().text     # 'locale' string literal
        if self.accept_kw("NULLS"):
            if self.accept_kw("FIRST"):
                item.nulls_first = True
            else:
                self.expect_kw("LAST")
                item.nulls_first = False
        if self.accept_kws("WITH", "FILL"):
            item.with_fill = True
            if self.accept_kw("FROM"):
                item.fill_from = self._expr()
            if self.accept_kw("TO"):
                item.fill_to = self._expr()
            if self.accept_kw("STEP"):
                item.fill_step = self._expr()
            if self.accept_kw("STALENESS"):
                # WITH FILL ... STALENESS c: generated rows continue
                # only while within c of the previous ORIGINAL row
                item.fill_staleness = self._expr()
        return item

    # --- FROM / JOIN ------------------------------------------------------

    def _from_clause(self):
        left = self._table_factor()
        while True:
            save = self.i
            is_global = self.accept_kw("GLOBAL")
            # bare JOIN (no strictness keyword) resolves at build time
            # from join_default_strictness (Settings.h:226 — default ALL,
            # 'ANY' dedupes, empty string THROWS)
            strictness = ""
            kind = "inner"
            if self.accept_kw("ANY"):
                strictness = "any"
            elif self.accept_kw("ALL"):
                strictness = "all"
            elif self.accept_kw("ASOF"):
                strictness = "asof"
            elif self.accept_kw("SEMI"):
                strictness = "semi"
            elif self.accept_kw("ANTI") or self.accept_kw("ONLY"):
                strictness = "anti"
            if self.accept_kw("INNER"):
                kind = "inner"
            elif self.accept_kw("LEFT"):
                kind = "left"
                self.accept_kw("OUTER")
            elif self.accept_kw("RIGHT"):
                kind = "right"
                self.accept_kw("OUTER")
            elif self.accept_kw("FULL"):
                kind = "full"
                self.accept_kw("OUTER")
            elif self.accept_kw("CROSS"):
                kind = "cross"
            elif self.tok.is_kw("JOIN") or self.tok.is_op(","):
                pass
            else:
                self.i = save
                break
            if self.accept_op(","):          # comma join → cross
                right = self._table_factor()
                left = Join(left, right, kind="cross")
                continue
            if not self.accept_kw("JOIN"):
                self.i = save
                break
            right = self._table_factor()
            join = Join(left, right, kind=kind, strictness=strictness,
                        is_global=is_global)
            if self.accept_kw("USING"):
                paren = self.accept_op("(")
                join.using = [self.advance().text]
                while self.accept_op(","):
                    join.using.append(self.advance().text)
                if paren:
                    self.expect_op(")")
            elif self.accept_kw("ON"):
                join.on = self._expr()
            elif kind != "cross":
                raise ParseError(f"JOIN requires USING or ON at {self.tok.pos}")
            left = join
        return left

    def _table_factor(self):
        if self.accept_op("("):
            sub = self._union()
            self.expect_op(")")
            alias = self._opt_alias()
            return SubqueryRef(sub, alias)
        name = self.advance()
        if name.kind != T.IDENT:
            raise ParseError(f"expected table name at {name.pos}")
        # table function: name(...)
        if self.tok.is_op("("):
            self.advance()
            args = [] if self.tok.is_op(")") else self._expr_list()
            self.expect_op(")")
            return TableFunction(name.text, args, self._opt_alias())
        db = None
        table = name.text
        if self.accept_op("."):
            db = table
            table = self.advance().text
        ref = TableRef(db, table)
        ref.alias = self._opt_alias()
        if self.accept_kw("FINAL"):
            ref.final = True
        if self.accept_kw("SAMPLE"):
            frac = self._sample_ratio()
            off = 0.0
            if self.accept_kw("OFFSET"):
                off = self._sample_ratio()
            ref.sample = (frac, off)
        if ref.alias is None:
            ref.alias = self._opt_alias()
        return ref

    def _sample_ratio(self) -> float:
        def num() -> float:
            t = self.advance()
            try:
                return float(t.text)
            except ValueError:
                raise ParseError(
                    f"SAMPLE expects a numeric ratio, got {t.text!r}"
                ) from None
        v = num()
        if self.accept_op("/"):
            v /= num()
        return v

    def _opt_alias(self) -> str | None:
        if self.accept_kw("AS"):
            return self.advance().text
        if (self.tok.kind == T.IDENT
                and not self.tok.is_kw(*_CLAUSE_KW)
                and not self.tok.is_kw("FINAL", "SAMPLE")):
            return self.advance().text
        return None

    # --- expressions ------------------------------------------------------

    def _expr_list(self) -> list:
        out = [self._expr()]
        while self.accept_op(","):
            out.append(self._expr())
        return out

    def _select_item(self):
        if self.tok.is_op("*"):
            self.advance()
            return self._star_modifiers(Star())
        # COLUMNS('regex') / COLUMNS(a, b) column matcher
        if self.tok.is_kw("COLUMNS") and self.peek().is_op("("):
            self.advance()
            self.advance()
            star = Star()
            if self.tok.kind == T.STRING:
                star.columns_regex = self.advance().text
            else:
                star.columns_list = [self.advance().text]
                while self.accept_op(","):
                    star.columns_list.append(self.advance().text)
            self.expect_op(")")
            return self._star_modifiers(star)
        # t.* form
        if (self.tok.kind == T.IDENT and self.peek().is_op(".")
                and self.peek(2).is_op("*")):
            t = self.advance().text
            self.advance()
            self.advance()
            return self._star_modifiers(Star(table=t))
        return self._aliased_expr()

    def _star_modifiers(self, star: Star) -> Star:
        """* EXCEPT [STRICT] (cols|'re') / REPLACE (e AS c) / APPLY (f)
        — chainable (ExpressionElementParsers.cpp:1819-2015)."""
        while True:
            if self.accept_kw("EXCEPT"):
                star.except_strict = bool(self.accept_kw("STRICT"))
                paren = self.accept_op("(")
                if self.tok.kind == T.STRING:
                    star.except_regex = self.advance().text
                else:
                    star.except_ = [self.advance().text]
                    while self.accept_op(","):
                        star.except_.append(self.advance().text)
                if paren:
                    self.expect_op(")")
            elif self.accept_kw("REPLACE"):
                self.accept_kw("STRICT")
                paren = self.accept_op("(")
                star.replace = []
                while True:
                    e = self._expr()
                    self.expect_kw("AS")
                    star.replace.append((e, self.advance().text))
                    if not self.accept_op(","):
                        break
                if paren:
                    self.expect_op(")")
            elif self.accept_kw("APPLY"):
                paren = self.accept_op("(")
                star.apply = star.apply or []
                star.apply.append(self._expr())
                if paren:
                    self.expect_op(")")
            else:
                return star

    def _aliased_expr(self):
        e = self._expr()
        if self.accept_kw("AS"):
            return Alias(e, self.advance().text)
        # alias without AS (ExpressionElementParsers.cpp:2180)
        if (self.tok.kind == T.IDENT and not self.tok.is_kw(*_CLAUSE_KW)):
            return Alias(e, self.advance().text)
        return e

    def _expr(self):
        return self._lambda()

    def _lambda(self):
        # x -> body  |  (x, y) -> body
        if self.tok.kind == T.IDENT and self.peek().is_op("->"):
            p = self.advance().text
            self.advance()
            return Lambda([p], self._lambda())
        if self.tok.is_op("("):
            save = self.i
            try:
                self.advance()
                params = []
                while self.tok.kind == T.IDENT:
                    params.append(self.advance().text)
                    if not self.accept_op(","):
                        break
                if params and self.accept_op(")") and self.accept_op("->"):
                    return Lambda(params, self._lambda())
            except ParseError:
                pass
            self.i = save
        return self._ternary()

    def _ternary(self):
        cond = self._or()
        if self.accept_op("?"):        # c ? a : b → if(c,a,b)
            a = self._or()
            self.expect_op(":")
            b = self._ternary()
            return FuncCall("if", [cond, a, b])
        return cond

    def _or(self):
        left = self._and()
        args = [left]
        while self.accept_kw("OR"):
            args.append(self._and())
        return FuncCall("or", args) if len(args) > 1 else left

    def _and(self):
        left = self._not()
        args = [left]
        while self.accept_kw("AND"):
            args.append(self._not())
        return FuncCall("and", args) if len(args) > 1 else left

    def _not(self):
        if self.accept_kw("NOT"):
            return FuncCall("not", [self._not()])
        return self._comparison()

    def _comparison(self):
        left = self._concat()
        # IS [NOT] NULL / IS [NOT] DISTINCT FROM (null-safe compare)
        if self.accept_kw("IS"):
            neg = self.accept_kw("NOT")
            if self.accept_kw("DISTINCT"):
                self.expect_kw("FROM")
                right = self._concat()
                nsafe = FuncCall("isNotDistinctFrom", [left, right])
                return nsafe if neg else FuncCall("not", [nsafe])
            self.expect_kw("NULL")
            return FuncCall("isNotNull" if neg else "isNull", [left])
        # [NOT] BETWEEN a AND b → >= AND <= (ExpressionListParsers:402)
        neg = False
        save = self.i
        if self.accept_kw("NOT"):
            neg = True
        if self.accept_kw("BETWEEN"):
            lo = self._concat()
            self.expect_kw("AND")
            hi = self._concat()
            inside = FuncCall("and", [
                FuncCall("greaterOrEquals", [left, lo]),
                FuncCall("lessOrEquals", [left, hi])])
            return FuncCall("not", [inside]) if neg else inside
        if neg and self.tok.is_kw("IN") \
                and not self.peek().is_kw("PARTITION"):
            self.advance()
            return FuncCall("notIn", [left, self._in_rhs()])
        if neg and self.accept_kw("LIKE"):
            return FuncCall("notLike", [left, self._concat()])
        if neg and self.accept_kw("ILIKE"):
            return FuncCall("notILike", [left, self._concat()])
        if neg:
            self.i = save
            return left
        # `IN PARTITION` belongs to the ALTER mutation grammar
        # (UPDATE ... IN PARTITION p WHERE ...), never an IN operator
        if self.tok.is_kw("IN") and not self.peek().is_kw("PARTITION"):
            self.advance()
            return FuncCall("in", [left, self._in_rhs()])
        if self.accept_kw("LIKE"):
            return FuncCall("like", [left, self._concat()])
        if self.accept_kw("ILIKE"):
            return FuncCall("ilike", [left, self._concat()])
        if self.accept_kws("GLOBAL", "IN"):
            return FuncCall("globalIn", [left, self._in_rhs()])
        ops = {"=": "equals", "==": "equals", "!=": "notEquals",
               "<>": "notEquals", "<": "less", ">": "greater",
               "<=": "lessOrEquals", ">=": "greaterOrEquals"}
        if self.tok.kind == T.OP and self.tok.text in ops:
            op = self.advance().text
            # quantified comparison: op ANY/ALL (subquery) — parse-time
            # rewrite to IN / NOT IN / min / max scalar subqueries
            # (ExpressionListParsers.cpp:201-285)
            if self.tok.is_kw("ANY", "ALL") and self.peek().is_op("("):
                quant = self.advance().text.upper()
                self.expect_op("(")
                sub = self._union()
                self.expect_op(")")
                return self._quantified(ops[op], quant, left, sub)
            right = self._concat()
            return FuncCall(ops[op], [left, right])
        return left

    def _quantified(self, op: str, quant: str, left, sub):
        subq = Subquery(sub)
        if op == "equals" and quant == "ANY":
            return FuncCall("in", [left, subq])
        if op == "notEquals" and quant == "ALL":
            return FuncCall("notIn", [left, subq])
        # ordering comparisons reduce to min/max of the subquery column
        reduce_fn = {
            ("greater", "ANY"): "min", ("greaterOrEquals", "ANY"): "min",
            ("less", "ANY"): "max", ("lessOrEquals", "ANY"): "max",
            ("greater", "ALL"): "max", ("greaterOrEquals", "ALL"): "max",
            ("less", "ALL"): "min", ("lessOrEquals", "ALL"): "min",
        }.get((op, quant))
        if reduce_fn is None:
            raise ParseError(f"unsupported quantified comparison {op} {quant}")
        # marker call the builder lowers to agg(first-column) scalar
        return FuncCall(op, [left, FuncCall("__subqueryReduce",
                                            [Subquery(sub),
                                             Literal(reduce_fn)])])

    def _in_rhs(self):
        if self.accept_op("("):
            if self.tok.is_kw("SELECT", "WITH"):
                sub = self._union()
                self.expect_op(")")
                return Subquery(sub)
            items = self._expr_list()
            self.expect_op(")")
            return TupleLiteral(items)
        return self._concat()

    def _concat(self):
        left = self._additive()
        args = [left]
        while self.accept_op("||"):
            args.append(self._additive())
        return FuncCall("concat", args) if len(args) > 1 else left

    def _additive(self):
        left = self._multiplicative()
        while True:
            if self.accept_op("+"):
                left = FuncCall("plus", [left, self._multiplicative()])
            elif self.accept_op("-"):
                left = FuncCall("minus", [left, self._multiplicative()])
            else:
                return left

    def _multiplicative(self):
        left = self._unary()
        while True:
            if self.accept_op("*"):
                left = FuncCall("multiply", [left, self._unary()])
            elif self.accept_op("/"):
                left = FuncCall("divide", [left, self._unary()])
            elif self.accept_op("%"):
                left = FuncCall("modulo", [left, self._unary()])
            elif self.accept_kw("MOD"):
                left = FuncCall("modulo", [left, self._unary()])
            elif self.accept_kw("DIV"):
                left = FuncCall("intDiv", [left, self._unary()])
            else:
                return left

    def _unary(self):
        if self.accept_op("-"):
            inner = self._unary()
            if isinstance(inner, Literal) and isinstance(inner.value, (int, float)):
                return Literal(-inner.value)   # literal folding (:668-686)
            return FuncCall("negate", [inner])
        self.accept_op("+")
        return self._postfix()

    def _postfix(self):
        e = self._element()
        while True:
            if self.accept_op("::"):          # x::T suffix cast
                e = Cast(e, self._type_name())
            elif self.accept_op("["):
                idx = self._expr()
                self.expect_op("]")
                e = FuncCall("arrayElement", [e, idx])
            elif self.tok.is_op(".") and self.peek().kind == T.NUMBER:
                self.advance()
                n = int(self.advance().text)
                e = FuncCall("tupleElement", [e, Literal(n)])
            elif (self.tok.kind == T.NUMBER and self.tok.text.startswith(".")
                  and self.tok.text[1:].isdigit()):
                # ``t.1`` lexed as NUMBER ".1" (leading-dot float form)
                n = int(self.advance().text[1:])
                e = FuncCall("tupleElement", [e, Literal(n)])
            elif (self.tok.is_op(".") and isinstance(e, Identifier)
                  and self.peek().kind == T.IDENT):
                self.advance()
                e.parts.append(self.advance().text)
            elif (self.tok.is_op(".") and not isinstance(e, Identifier)
                  and self.peek().kind == T.IDENT):
                # named-tuple member access on a non-identifier
                # expression: CAST((1,'a') AS Tuple(id UInt8, s
                # String)).s ≡ tupleElement(expr, 's')
                self.advance()
                e = FuncCall("tupleElement",
                             [e, Literal(self.advance().text)])
            else:
                return e

    def _type_name(self) -> str:
        """Consume a (possibly parameterized) type name as text."""
        name = self.advance().text
        if self.tok.is_op("("):
            depth = 0
            out = [name]
            while True:
                t = self.advance()
                out.append(t.text if t.kind != T.STRING else "'" + t.text
                           .replace("\\", "\\\\").replace("'", "\\'") + "'")
                if t.is_op("("):
                    depth += 1
                elif t.is_op(")"):
                    depth -= 1
                    if depth == 0:
                        break
            # re-space adjacent word tokens so structured parameter
            # lists survive round-tripping: Nested(a Int32, b String) /
            # Tuple(x UInt8) keep their name-type separation
            text = ""
            prev_word = False
            for piece in out:
                word = bool(piece) and (piece[0].isalnum()
                                        or piece[0] == "_")
                if text and prev_word and word:
                    text += " "
                text += piece
                prev_word = bool(piece) and (piece[-1].isalnum()
                                             or piece[-1] == "_")
            return text
        return name

    def _literal_value(self):
        t = self.advance()
        if t.kind == T.NUMBER:
            return _num(t.text)
        if t.kind == T.STRING:
            return t.text
        if t.is_kw("TRUE"):
            return True
        if t.is_kw("FALSE"):
            return False
        return t.text

    # --- element (primary) ------------------------------------------------

    def _element(self):
        tok = self.tok
        if tok.kind == T.NUMBER:
            self.advance()
            return Literal(_num(tok.text))
        if tok.kind == T.STRING:
            self.advance()
            return Literal(tok.text)
        if tok.is_op("("):
            return self._paren_or_tuple()
        if tok.is_op("["):
            self.advance()
            items = [] if self.tok.is_op("]") else self._expr_list()
            self.expect_op("]")
            return ArrayLiteral(items)
        if tok.is_op("*"):
            self.advance()
            return Star()
        if tok.is_op("@") and self.peek().is_op("@"):
            # MySQL-style @@var → getSetting('var') (ParserSubstitution
            # companion :2114-2158)
            self.advance()
            self.advance()
            return FuncCall("getSetting", [Literal(self.advance().text)])
        if tok.is_op("{"):
            # {'k': v, ...} with a NON-IDENT first key is a Map literal
            # (CH map syntax); {name:Type} is a query parameter
            # (ParserSubstitution :2068-2112) — disambiguated on the
            # first token after the brace
            if self.peek().kind != T.IDENT or self.peek().is_kw("NULL"):
                self.advance()
                keys, vals = [], []
                while not self.tok.is_op("}"):
                    keys.append(self._expr())
                    self.expect_op(":")
                    vals.append(self._expr())
                    if not self.accept_op(","):
                        break
                self.expect_op("}")
                args = [a for kv in zip(keys, vals) for a in kv]
                return FuncCall("map", args)
            # query parameter {name:Type} (ParserSubstitution :2068-2112)
            self.advance()
            pname = self.advance().text
            self.expect_op(":")
            ptype = self._type_name()
            self.expect_op("}")
            return QueryParameter(pname, ptype)
        if tok.kind != T.IDENT:
            raise ParseError(f"unexpected token {tok.text!r} at {tok.pos}")
        upper = tok.text.upper()
        if upper == "NULL":
            self.advance()
            return Literal(None)
        if upper in ("TRUE", "FALSE"):
            self.advance()
            return Literal(upper == "TRUE")
        if upper == "CASE":
            return self._case()
        if upper == "CAST":
            return self._cast_call()
        if upper == "EXTRACT":
            return self._extract()
        if upper == "SUBSTRING":
            return self._substring()
        if upper == "TRIM":
            return self._trim()
        if upper == "POSITION" and self.peek().is_op("("):
            return self._position()
        if upper == "EXISTS" and self.peek().is_op("("):
            self.advance()
            self.expect_op("(")
            sub = self._union()
            self.expect_op(")")
            return FuncCall("exists", [Subquery(sub)])
        if upper == "INTERVAL":
            self.advance()
            if self.tok.kind == T.STRING:
                # INTERVAL '1 day' / compound INTERVAL '1 day 2 hours'
                # — the unit(s) live inside the string literal
                txt = self.tok.text.strip()
                parts = txt.split()
                if (len(parts) >= 2 and len(parts) % 2 == 0
                        and all(p.lstrip("+-").isdigit()
                                for p in parts[0::2])):
                    units = [p.upper().rstrip("S") if
                             p.upper().rstrip("S") in _INTERVAL_UNITS
                             else p.upper() for p in parts[1::2]]
                    if all(u in _INTERVAL_UNITS for u in units):
                        self.advance()
                        ivs = [IntervalExpr(Literal(int(n)), u)
                               for n, u in zip(parts[0::2], units)]
                        out = ivs[0]
                        for iv in ivs[1:]:
                            out = FuncCall("plus", [out, iv])
                        return out
            v = self._additive()
            unit = self.advance().text.upper()
            if unit not in _INTERVAL_UNITS and unit.rstrip("S") in _INTERVAL_UNITS:
                unit = unit.rstrip("S")
            return IntervalExpr(v, unit)
        if upper == "DATE" and self.peek().kind == T.STRING:
            self.advance()
            return FuncCall("toDate", [Literal(self.advance().text)])
        if upper == "TIMESTAMP" and self.peek().kind == T.STRING:
            self.advance()
            return FuncCall("toDateTime", [Literal(self.advance().text)])
        # function call or identifier
        if self.peek().is_op("("):
            return self._function_call()
        self.advance()
        return Identifier([tok.text])

    def _paren_or_tuple(self):
        self.expect_op("(")
        if self.tok.is_kw("SELECT", "WITH"):
            sub = self._union()
            self.expect_op(")")
            return Subquery(sub)
        # CH attaches aliases to ANY expression element, including
        # parenthesized ones: (1 + 1 AS two) both evaluates and
        # registers `two` for later reuse (reference wraps every
        # element in ParserWithOptionalAlias)
        items = []
        while True:
            e = self._expr()
            if self.accept_kw("AS"):
                e = Alias(e, self.advance().text)
            items.append(e)
            if not self.accept_op(","):
                break
        self.expect_op(")")
        if len(items) == 1:
            return items[0]
        return TupleLiteral(items)

    def _function_call(self):
        name = self.advance().text
        self.expect_op("(")
        distinct = bool(self.accept_kw("DISTINCT"))
        args: list = []
        if not self.tok.is_op(")"):
            if self.tok.is_kw("SELECT", "WITH"):
                args = [Subquery(self._union())]
            else:
                args = self._expr_list()
        self.expect_op(")")
        params: list = []
        # parametric aggregate f(p1,..)(args)
        if self.tok.is_op("("):
            self.advance()
            params = args
            distinct2 = bool(self.accept_kw("DISTINCT"))
            args = [] if self.tok.is_op(")") else self._expr_list()
            self.expect_op(")")
            distinct = distinct or distinct2
        fc = FuncCall(name, args, params=params, distinct=distinct)
        # agg(x) FILTER (WHERE p) → aggIf (ExpressionElementParsers:878)
        if self.accept_kw("FILTER"):
            self.expect_op("(")
            self.expect_kw("WHERE")
            fc.filter_where = self._expr()
            self.expect_op(")")
        # fn(x) [RESPECT|IGNORE] NULLS — CH window-function null treatment
        if self.accept_kws("RESPECT", "NULLS"):
            fc.nulls_modifier = "respect"
        elif self.accept_kws("IGNORE", "NULLS"):
            fc.nulls_modifier = "ignore"
        if self.accept_kw("OVER"):
            if self.tok.is_op("("):
                fc.window = self._window_spec()
            else:                       # OVER w → named window (WINDOW clause)
                fc.window = self.advance().text
        return fc

    def _window_spec(self) -> WindowSpec:
        spec = WindowSpec()
        self.expect_op("(")
        if self.accept_kws("PARTITION", "BY"):
            spec.partition_by = self._expr_list()
        if self.accept_kws("ORDER", "BY"):
            spec.order_by = [self._order_item()]
            while self.accept_op(","):
                spec.order_by.append(self._order_item())
        for mode in ("ROWS", "RANGE", "GROUPS"):
            if self.accept_kw(mode):
                if self.accept_kw("BETWEEN"):
                    start = self._frame_bound()
                    self.expect_kw("AND")
                    end = self._frame_bound()
                else:
                    start = self._frame_bound()
                    end = "CURRENT ROW"
                spec.frame = (mode, start, end)
        self.expect_op(")")
        return spec

    def _frame_bound(self) -> str:
        if self.accept_kws("UNBOUNDED", "PRECEDING"):
            return "UNBOUNDED PRECEDING"
        if self.accept_kws("UNBOUNDED", "FOLLOWING"):
            return "UNBOUNDED FOLLOWING"
        if self.accept_kws("CURRENT", "ROW"):
            return "CURRENT ROW"
        if self.accept_kw("INTERVAL"):
            # RANGE BETWEEN INTERVAL n unit PRECEDING — temporal frame
            # offset (converted against the ORDER BY column's epoch
            # rebase at build time)
            n = self.advance().text
            unit = self.advance().text.upper().rstrip("S")
            if self.accept_kw("PRECEDING"):
                return f"INTERVAL {n} {unit} PRECEDING"
            self.expect_kw("FOLLOWING")
            return f"INTERVAL {n} {unit} FOLLOWING"
        n = self.advance().text
        if self.accept_kw("PRECEDING"):
            return f"{n} PRECEDING"
        self.expect_kw("FOLLOWING")
        return f"{n} FOLLOWING"

    def _case(self):
        self.expect_kw("CASE")
        # CASE expr WHEN v THEN r ... | CASE WHEN c THEN r ...
        operand = None
        if not self.tok.is_kw("WHEN"):
            operand = self._expr()
        branches: list = []
        while self.accept_kw("WHEN"):
            c = self._expr()
            self.expect_kw("THEN")
            v = self._expr()
            branches += [c, v]
        default = Literal(None)      # missing ELSE → NULL (ParserCase:54)
        if self.accept_kw("ELSE"):
            default = self._expr()
        self.expect_kw("END")
        if operand is not None:
            return FuncCall("caseWithExpression", [operand, *branches, default])
        return FuncCall("multiIf", [*branches, default])

    def _cast_call(self):
        self.advance()
        self.expect_op("(")
        e = self._expr()
        if self.accept_kw("AS"):
            t = self._type_name()
        else:
            self.expect_op(",")
            t = self.advance().text      # CAST(x, 'T') string form
        self.expect_op(")")
        return Cast(e, t)

    def _extract(self):
        self.advance()
        self.expect_op("(")
        # only `EXTRACT(unit FROM expr)` is the SQL-standard form; the
        # call form extract(haystack, regexp) parses like any function
        # (the reference special-cases only unit-FROM,
        # ExpressionElementParsers.cpp) — don't swallow it
        if not self.peek().is_kw("FROM"):
            args = [self._expr()]
            while self.accept_op(","):
                args.append(self._expr())
            self.expect_op(")")
            return FuncCall("extract", args)
        unit = self.advance().text.upper()
        self.expect_kw("FROM")
        e = self._expr()
        self.expect_op(")")
        fn = {"YEAR": "toYear", "QUARTER": "toQuarter", "MONTH": "toMonth",
              "WEEK": "toWeek", "DAY": "toDayOfMonth", "HOUR": "toHour",
              "MINUTE": "toMinute", "SECOND": "toSecond"}
        if unit not in fn:
            raise ParseError(f"EXTRACT unit {unit}")
        return FuncCall(fn[unit], [e])

    def _substring(self):
        self.advance()
        self.expect_op("(")
        s = self._expr()
        if self.accept_kw("FROM"):
            start = self._expr()
            length = None
            if self.accept_kw("FOR"):
                length = self._expr()
        else:
            self.expect_op(",")
            start = self._expr()
            length = None
            if self.accept_op(","):
                length = self._expr()
        self.expect_op(")")
        args = [s, start] + ([length] if length is not None else [])
        return FuncCall("substring", args)

    def _trim(self):
        self.advance()
        self.expect_op("(")
        mode = "trimBoth"
        if self.accept_kw("BOTH"):
            mode = "trimBoth"
        elif self.accept_kw("LEADING"):
            mode = "trimLeft"
        elif self.accept_kw("TRAILING"):
            mode = "trimRight"
        if self.accept_kw("FROM"):
            # TRIM(BOTH FROM s): no trim character — whitespace default
            target = self._expr()
            self.expect_op(")")
            return FuncCall(mode, [target])
        e = self._expr()
        if self.accept_kw("FROM"):
            target = self._expr()
            self.expect_op(")")
            # TRIM(BOTH c FROM s) → regexp strip (ExpressionElement:378-504)
            return FuncCall(mode + "Chars", [target, e])
        self.expect_op(")")
        return FuncCall(mode, [e])

    def _position(self):
        self.advance()
        self.expect_op("(")
        # needle parses below IN precedence so `POSITION(n IN hay)`
        # (ExpressionElementParsers.cpp:537-564) keeps IN as the
        # separator instead of the set-membership operator
        a = self._concat()
        if self.accept_kw("IN"):
            hay = self._expr()
            self.expect_op(")")
            return FuncCall("position", [hay, a])
        self.expect_op(",")
        b = self._expr()
        # 3-arg call form position(haystack, needle, start_pos): the
        # reference special-cases only POSITION(n IN hay)
        # (ExpressionElementParsers.cpp:537-564); the call form parses
        # like any function — don't swallow the third argument
        args = [a, b]
        while self.accept_op(","):
            args.append(self._expr())
        self.expect_op(")")
        return FuncCall("position", args)


def _num(text: str) -> int | float:
    low = text.lower()
    if low.startswith("0x"):
        return int(text, 16)
    if low.startswith("0b"):
        return int(text, 2)
    if "." in text or "e" in low:
        return float(text)
    return int(text)
