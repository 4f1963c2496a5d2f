"""Reaching definitions → REACHING_DEF (DDG) edges, per method.

Behavioral port of the reference's pass chain:
- flow graph with params/paramOuts spliced into the CFG
  (ReachingDefProblem.scala:37-150)
- gen/kill transfer function incl. the field-access exemptions
  (ReachingDefProblem.scala:154-293)
- lone-identifier optimization (ReachingDefProblem.scala:297-342)
- forward worklist MOP solver (DataFlowSolver.scala:11-39)
- DDG edge materialization with use/def matching
  (DdgGenerator.scala:30-251, UsageAnalyzer :257-367)
- semantics-driven edge filtering (EdgeValidator.scala:10-61)
- bail-out at >4000 definitions (ReachingDefPass.scala:40-52)

Spark mapping: this whole module runs per (url, method) inside the
per-document `mapInPandas` kernel (`cpg.docmap.map_documents`) — the
worklist is sequential per method and embarrassingly parallel across
methods/documents.
"""

from __future__ import annotations

from typing import Optional

from joern_spark.cpg.core import (
    Cpg,
    FIELD_ACCESS_NAMES,
    GENERIC_MEMBER_ACCESS_NAMES,
    Node,
)
from joern_spark.cpg.passes import called_methods, is_stub
from joern_spark.cpg.semantics import Semantics

MAX_NUMBER_OF_DEFINITIONS = 4000
INDIRECTION_ACCESS = {"<operator>.addressOf", "<operator>.indirection"}
CONTAINER_SET = {"<operator>.fieldAccess", "<operator>.indexAccess",
                 "<operator>.indirectIndexAccess", "<operator>.indirectFieldAccess"}


class FlowGraph:
    """ReachingDefFlowGraph: entry=METHOD, exit=METHOD_RETURN, params and
    output params spliced before/after the body CFG."""

    def __init__(self, cpg: Cpg, method: Node):
        self.cpg = cpg
        self.method = method
        self.entry = method
        self.exit = cpg.method_return(method)
        self.params = cpg.parameters(method)
        self.param_outs = [cpg.param_out(p) for p in self.params]
        self.param_outs = [p for p in self.param_outs if p is not None]
        first_out = self.param_outs[0] if self.param_outs else None
        last_out = self.param_outs[-1] if self.param_outs else None

        body_rpo = self._reverse_post_order()
        self.all_rpo: list[Node] = (
            [self.entry] + self.params
            + [x for x in body_rpo if x.id not in (self.entry.id, self.exit.id)]
            + self.param_outs + [self.exit]
        )
        in_rpo = {n.id for n in self.all_rpo}
        extra = [n for n in self._method_cfg_nodes() if n.id not in in_rpo]
        self.all_nodes = self.all_rpo + extra
        self.node_to_num = {n.id: i for i, n in enumerate(self.all_nodes)}
        self.num_to_node = {i: n for i, n in enumerate(self.all_nodes)}

        cfg_first = [e.dst for e in cpg.out(method, "CFG")]
        last_actual = [e.src for e in cpg.inn(self.exit, "CFG")]
        last_actual = last_actual[:1]

        self.succ: dict[int, list[Node]] = {}
        self.pred: dict[int, list[Node]] = {}
        for n in self.all_rpo:
            if n.label == "METHOD":
                self.succ[n.id] = [self.params[0]] if self.params else cfg_first
            elif n.label == "RETURN":
                self.succ[n.id] = [first_out if first_out is not None else self.exit]
            elif n.label == "METHOD_PARAMETER_IN":
                nxt = self._param_with_index(n.index + 1)
                self.succ[n.id] = [nxt] if nxt is not None else cfg_first
            elif n.label == "METHOD_PARAMETER_OUT":
                nxt = self._param_out_with_index(n.index + 1)
                self.succ[n.id] = [nxt] if nxt is not None else [self.exit]
            else:
                succs = [e.dst for e in cpg.out(n, "CFG")]
                if succs and all(s.id == self.exit.id for s in succs) and first_out is not None:
                    succs = [first_out]
                self.succ[n.id] = succs
        for n in self.all_rpo:
            if n.label == "METHOD_PARAMETER_IN":
                prv = self._param_with_index(n.index - 1)
                self.pred[n.id] = [prv] if prv is not None else [self.method]
            elif n.label == "METHOD_PARAMETER_OUT":
                prv = self._param_out_with_index(n.index - 1)
                self.pred[n.id] = [prv] if prv is not None else last_actual
            elif cfg_first and n.id == cfg_first[0].id:
                self.pred[n.id] = [self.params[-1]] if self.params else [self.method]
            elif n.id == self.exit.id:
                self.pred[n.id] = [last_out] if last_out is not None else last_actual
            else:
                self.pred[n.id] = [e.src for e in cpg.inn(n, "CFG")]
        for n in extra:
            self.succ.setdefault(n.id, [e.dst for e in cpg.out(n, "CFG")])
            self.pred.setdefault(n.id, [e.src for e in cpg.inn(n, "CFG")])

    def _param_with_index(self, i: int) -> Optional[Node]:
        for p in self.params:
            if p.index == i:
                return p
        return None

    def _param_out_with_index(self, i: int) -> Optional[Node]:
        for p in self.param_outs:
            if p.index == i:
                return p
        return None

    def _method_cfg_nodes(self) -> list[Node]:
        return [n for n in self.cpg.method_body_nodes(self.method)
                if n.is_cfg_node]

    def _reverse_post_order(self) -> list[Node]:
        visited = set()
        post = []

        def dfs(n: Node):
            stack = [(n, iter([e.dst for e in self.cpg.out(n, "CFG")]))]
            visited.add(n.id)
            while stack:
                node, it = stack[-1]
                advanced = False
                for nxt in it:
                    if nxt.id not in visited:
                        visited.add(nxt.id)
                        stack.append((nxt, iter([e.dst for e in self.cpg.out(nxt, "CFG")])))
                        advanced = True
                        break
                if not advanced:
                    post.append(node)
                    stack.pop()

        dfs(self.method)
        return list(reversed(post))


class TransferFunction:
    """gen/kill with the lone-identifier optimization."""

    def __init__(self, cpg: Cpg, fg: FlowGraph):
        self.cpg = cpg
        self.fg = fg
        method = fg.method
        self.method = method

        contains = cpg.method_body_nodes(method)
        self.method_calls = [n for n in contains if n.label == "CALL"]
        identifiers = [n for n in contains if n.label == "IDENTIFIER"]
        self.all_identifiers: dict[str, list[Node]] = {}
        for ident in identifiers:
            self.all_identifiers.setdefault(ident.name, []).append(ident)
        for p in fg.params:
            self.all_identifiers.setdefault(p.name, []).append(p)
        self.all_calls: dict[str, list[Node]] = {}
        for c in self.method_calls:
            self.all_calls.setdefault(c.code, []).append(c)

        self.lone_identifiers = self._lone_identifiers(contains)
        self.gen: dict[int, frozenset[int]] = self._init_gen()
        self.kill: dict[int, frozenset[int]] = self._init_kill()

    def _lone_identifiers(self, contains) -> dict[int, set[int]]:
        """ReachingDefProblem.scala:297-342."""
        returns = [n for n in contains if n.label == "RETURN"]
        idents_in_returns = set()
        for r in returns:
            for n in self.cpg.ast_subtree(r):
                if n.label == "IDENTIFIER":
                    idents_in_returns.add(n.name)
        param_and_local_names = {p.name for p in self.fg.params}
        for n in contains:
            if n.label == "LOCAL":
                param_and_local_names.add(n.name)
        pairs = []  # (name, call, arg)
        for call in self.method_calls:
            for arg in self.cpg.arguments(call):
                if arg.label != "IDENTIFIER":
                    continue
                if arg.name in param_and_local_names or arg.name in idents_in_returns:
                    continue
                pairs.append((arg.name, call, arg))
        by_name: dict[str, list] = {}
        for name, call, arg in pairs:
            by_name.setdefault(name, []).append((call, arg))
        out: dict[int, set[int]] = {}
        for name, lst in by_name.items():
            if len(lst) == 1:
                call, arg = lst[0]
                if arg.id in self.fg.node_to_num:
                    out.setdefault(call.id, set()).add(self.fg.node_to_num[arg.id])
        return out

    def _init_gen(self) -> dict[int, frozenset[int]]:
        gen: dict[int, frozenset[int]] = {}
        for p in self.fg.params:
            gen[p.id] = frozenset([self.fg.node_to_num[p.id]])
        for call in self.method_calls:
            if call.name in FIELD_ACCESS_NAMES:
                continue
            defs = set()
            if call.id in self.fg.node_to_num:
                defs.add(self.fg.node_to_num[call.id])
            for arg in self.cpg.arguments(call):
                if arg.label in ("CALL", "IDENTIFIER") and arg.id in self.fg.node_to_num:
                    defs.add(self.fg.node_to_num[arg.id])
            # lone-identifier optimization: drop lone identifiers from gen
            lone = self.lone_identifiers.get(call.id, set())
            gen[call.id] = frozenset(defs - lone)
        return gen

    def _init_kill(self) -> dict[int, frozenset[int]]:
        kill: dict[int, frozenset[int]] = {}
        for call in self.method_calls:
            if call.name in GENERIC_MEMBER_ACCESS_NAMES:
                continue
            kills = set()
            for d in self.gen.get(call.id, frozenset()):
                kills |= self._defs_of_same_variable(d)
            kill[call.id] = frozenset(kills)
        return kill

    def _defs_of_same_variable(self, definition: int) -> set[int]:
        node = self.fg.num_to_node[definition]
        defined: list[Node] = []
        if node.label == "METHOD_PARAMETER_IN":
            defined = [x for x in self.all_identifiers.get(node.name, []) if x.id != node.id]
        elif node.label == "IDENTIFIER":
            same = [x for x in self.all_identifiers.get(node.name, []) if x.id != node.id]
            same_objects = []
            for c in self.method_calls:
                if c.name == "<operator>.fieldAccess":
                    for n in self.cpg.ast_subtree(c):
                        if n.label == "IDENTIFIER" and n.name == node.name:
                            same_objects.append(c)
                            break
            defined = same + same_objects
        elif node.label == "CALL":
            defined = [x for x in self.all_calls.get(node.code, []) if x.id != node.id]
        return {self.fg.node_to_num[x.id] for x in defined if x.id in self.fg.node_to_num}

    def apply(self, n: Node, x: frozenset[int]) -> frozenset[int]:
        return self.gen.get(n.id, frozenset()) | (x - self.kill.get(n.id, frozenset()))

    def n_definitions(self) -> int:
        return sum(len(v) for v in self.gen.values())


def solve_forward(fg: FlowGraph, tf: TransferFunction):
    """DataFlowSolver.calculateMopSolutionForwards."""
    out: dict[int, frozenset[int]] = {n.id: tf.gen.get(n.id, frozenset()) for n in fg.all_nodes}
    inn: dict[int, frozenset[int]] = {}
    worklist = list(fg.all_rpo)
    while worklist:
        new_entries = []
        for n in worklist:
            in_set = frozenset()
            for p in fg.pred.get(n.id, []):
                in_set |= out.get(p.id, frozenset())
            inn[n.id] = in_set
            old = out.get(n.id, frozenset())
            new = tf.apply(n, in_set)
            out[n.id] = new
            if new != old:
                new_entries.extend(fg.succ.get(n.id, []))
        seen = set()
        worklist = []
        for n in new_entries:
            if n.id not in seen:
                seen.add(n.id)
                worklist.append(n)
    return inn, out


# ---------------------------------------------------------------------------
# Edge validation (EdgeValidator.scala)
# ---------------------------------------------------------------------------

class SemanticsView:
    """Semantics lookups bound to one document's call graph."""

    def __init__(self, cpg: Cpg, semantics: Semantics):
        self.cpg = cpg
        self.semantics = semantics
        # node-id memos: the validator asks the same questions about the
        # same nodes many times per DDG build (graph is frozen here)
        self._for_call: dict[int, list] = {}
        self._in_call: dict[int, Node | None] = {}

    def for_call(self, call: Node) -> list:
        out = self._for_call.get(call.id)
        if out is not None:
            return out
        out = []
        for m in called_methods(self.cpg, call):
            s = self.semantics.for_method_full_name(m.full_name)
            if s is not None:
                out.append(s)
        self._for_call[call.id] = out
        return out

    def for_call_by_arg(self, expr: Node) -> list:
        try:
            call = self._in_call[expr.id]
        except KeyError:
            call = self._in_call[expr.id] = self.cpg.in_call(expr)
        if call is None:
            return []
        return self.for_call(call)

    def is_used(self, expr: Node) -> bool:
        s = self.for_call_by_arg(expr)
        return not s or any(f.is_used(expr.argument_index) for f in s)

    def is_defined(self, expr: Node) -> bool:
        s = self.for_call_by_arg(expr)
        return not s or any(f.is_defined(expr.argument_index) for f in s)

    def has_defined_flow_to(self, src: Node, dst: Node) -> bool:
        s = self.for_call_by_arg(src)
        return not s or any(f.has_flow(src.argument_index, dst.argument_index) for f in s)

    def is_call_retval(self, node: Node) -> bool:
        if node.label != "CALL":
            return False
        return any(not f.flows_to_return() for f in self.for_call(node))

    def is_output_arg_of_internal_method(self, arg: Node) -> bool:
        call = self.cpg.in_call(arg)
        if call is None:
            return False
        ms = called_methods(self.cpg, call)
        internal_not_stub = [m for m in ms if not m.is_external and not is_stub(self.cpg, m)]
        return bool(internal_not_stub) and not self.for_call(call)

    def is_call_to_internal_method_without_semantic(self, call: Node) -> bool:
        ms = called_methods(self.cpg, call)
        return any(not m.is_external for m in ms) and not self.for_call(call)

    def same_call_site(self, a: Node, b: Node) -> bool:
        return self.cpg.in_call(a) is self.cpg.in_call(b) and self.cpg.in_call(a) is not None

    def is_valid_edge(self, child: Node, parent: Node) -> bool:
        """EdgeValidator.isValidEdge."""
        child_is_expr = child.is_expression
        parent_is_expr = parent.is_expression
        if child_is_expr and (self.is_call_retval(parent)
                              or not self._is_valid_edge_to_expression(parent, child)):
            return False
        if (child.label == "CALL" and parent_is_expr and self.is_call_retval(child)
                and any(a.id == parent.id for a in self.cpg.arguments(child))):
            return False
        if child_is_expr and parent_is_expr:
            if (self._arg_to_same_call(parent, child) and self.is_defined(child)
                    and self.is_used(parent)):
                return self.has_defined_flow_to(parent, child)
            return True
        if child_is_expr and not self.is_used(child):
            return False
        if child_is_expr:
            return True
        return not self.is_call_retval(parent)

    def _arg_to_same_call(self, a: Node, b: Node) -> bool:
        pa = self.cpg.ast_parent(a)
        pb = self.cpg.ast_parent(b)
        return (pa is not None and pb is not None and pa.label == "CALL"
                and pb.label == "CALL" and pa.id == pb.id)

    def _is_valid_edge_to_expression(self, parent: Node, cur: Node) -> bool:
        if parent.is_expression:
            same = self.same_call_site(parent, cur)
            if same and self.is_output_arg_of_internal_method(parent):
                return False
            return (same and self.is_used(parent) and self.is_defined(cur)) or \
                   (not same and self.is_used(cur))
        return self.is_used(cur)


# ---------------------------------------------------------------------------
# DDG generation (DdgGenerator.scala)
# ---------------------------------------------------------------------------

class UsageAnalyzer:
    def __init__(self, cpg: Cpg, fg: FlowGraph, inn: dict[int, frozenset[int]]):
        self.cpg = cpg
        self.fg = fg
        self.inn = inn
        self._uid_cache: dict[int, dict[int, set[int]]] = {}

    def uses(self, node: Node) -> list[Node]:
        if node.label == "RETURN":
            out = [c for c in self.cpg.ast_children(node) if c.is_expression]
        elif node.label == "CALL":
            out = self.cpg.arguments(node)
        elif node.label == "METHOD_PARAMETER_OUT":
            out = [node]
        else:
            out = []
        return [n for n in out if n.label != "FIELD_IDENTIFIER"]

    def node_to_string(self, node: Node) -> Optional[str]:
        if node.label == "IDENTIFIER":
            return node.name
        if node.is_expression:
            return node.code
        if node.label in ("METHOD_PARAMETER_IN", "METHOD_PARAMETER_OUT"):
            return node.name
        return None

    def same_variable(self, use: Node, in_elem: Node) -> bool:
        s = self.node_to_string(use)
        if s is None:
            return False
        if in_elem.label == "METHOD_PARAMETER_IN":
            return in_elem.name in s
        if in_elem.label == "CALL" and in_elem.name in INDIRECTION_ACCESS:
            arg1 = self.cpg.argument(in_elem, 1)
            return arg1 is not None and arg1.code in s
        if in_elem.label == "CALL":
            return in_elem.code in s
        if in_elem.label == "IDENTIFIER":
            return in_elem.name in s
        return False

    def is_container(self, use: Node, in_elem: Node) -> bool:
        if in_elem.label == "CALL" and in_elem.name in CONTAINER_SET:
            args = self.cpg.arguments(in_elem)
            if args:
                return self.node_to_string(use) == self.node_to_string(args[0])
        return False

    def is_part(self, use: Node, in_elem: Node) -> bool:
        if use.label == "CALL" and use.name in CONTAINER_SET:
            args = self.cpg.arguments(use)
            if not args:
                return False
            base = self.node_to_string(args[0])
            if base is None:
                return False
            if in_elem.label == "METHOD_PARAMETER_IN":
                return in_elem.name in base
            if in_elem.label == "IDENTIFIER":
                return in_elem.name in base
        return False

    def is_using(self, use: Node, in_elem: Node) -> bool:
        return (self.same_variable(use, in_elem) or self.is_container(use, in_elem)
                or self.is_part(use, in_elem))

    def used_incoming_defs(self, node: Node) -> dict[int, set[int]]:
        """use node-id → set of incoming definitions it uses (cached: the
        DDG generator queries each node once for entry edges and once for
        call/return handling)."""
        cached = self._uid_cache.get(node.id)
        if cached is not None:
            return cached
        out: dict[int, set[int]] = {}
        for use in self.uses(node):
            ds = set()
            for d in self.inn.get(node.id, frozenset()):
                if self.is_using(use, self.fg.num_to_node[d]):
                    ds.add(d)
            out[use.id] = ds
        self._uid_cache[node.id] = out
        return out


class DdgGenerator:
    def __init__(self, cpg: Cpg, semantics: Semantics):
        self.cpg = cpg
        self.view = SemanticsView(cpg, semantics)
        self._nodes_by_id = {n.id: n for n in cpg.nodes}

    def run(self, method: Node) -> bool:
        """Returns False on bail-out."""
        fg = FlowGraph(self.cpg, method)
        tf = TransferFunction(self.cpg, fg)
        if tf.n_definitions() > MAX_NUMBER_OF_DEFINITIONS:
            return False
        inn, _out = solve_forward(fg, tf)
        self._add_edges(method, fg, tf, inn)
        return True

    def _edge(self, src: Node, dst: Node, variable: str = ""):
        if src.label == "UNKNOWN" or dst.label == "UNKNOWN":
            return
        if self.view.is_valid_edge(dst, src):
            self.cpg.add_edge(src, dst, "REACHING_DEF", variable)

    def _label(self, node: Node) -> str:
        return node.name if node.label == "METHOD_PARAMETER_IN" else node.code

    def _is_ddg_node(self, x: Node) -> bool:
        return x.label not in ("METHOD", "CONTROL_STRUCTURE", "FIELD_IDENTIFIER",
                               "JUMP_TARGET", "METHOD_RETURN")

    def _add_edges(self, method: Node, fg: FlowGraph, tf: TransferFunction,
                   inn: dict[int, frozenset[int]]):
        cpg = self.cpg
        ua = UsageAnalyzer(cpg, fg, inn)
        all_nodes = [fg.num_to_node[i] for i in range(len(fg.all_nodes))]
        all_nodes = [n for n in all_nodes if n.id in inn]

        def add_edge_for_block(block: Node, towards: Node):
            children = cpg.ast_children(block)
            last = children[-1] if children else None
            if last is None:
                return
            if last.label == "IDENTIFIER":
                edges_to_add = []
                for d in inn.get(last.id, frozenset()):
                    in_def = fg.num_to_node.get(d)
                    if in_def is None:
                        continue
                    if ua.is_using(last, in_def) and in_def.label in ("IDENTIFIER", "CALL"):
                        edges_to_add.append(in_def)
                for in_node in edges_to_add:
                    self._edge(in_node, block, self._label(in_node))
                if edges_to_add:
                    self._edge(block, towards)
            elif last.label == "CALL":
                self._edge(last, block, self._label(last))
                self._edge(block, towards)

        # edges from the entry node: nodes with NO uses at all (the
        # usedIncomingDefs map itself is empty — DdgGenerator.scala:47-54);
        # EdgeValidator prunes the unused ones.
        for n in all_nodes:
            if self._is_ddg_node(n) and not ua.used_incoming_defs(n):
                self._edge(method, n)

        for n in all_nodes:
            if n.label == "CALL":
                # edges between args of call sites
                uid = ua.used_incoming_defs(n)
                for use_id, ins in uid.items():
                    use = self._nodes_by_id[use_id]
                    for d in ins:
                        in_node = fg.num_to_node[d]
                        if in_node.id != use.id:
                            self._edge(in_node, use, self._label(in_node))
                # input args taint gen (retval + output args)
                for use in ua.uses(n):
                    for g in tf.gen.get(n.id, frozenset()):
                        gen_node = fg.num_to_node[g]
                        if use.id != gen_node.id and self._is_ddg_node(use):
                            self._edge(use, gen_node, self._label(use))
                for arg in cpg.arguments(n):
                    if arg.label == "BLOCK":
                        add_edge_for_block(arg, n)
            elif n.label == "RETURN":
                for use in ua.uses(n):
                    if use.label == "BLOCK":
                        add_edge_for_block(use, n)
                uid = ua.used_incoming_defs(n)
                for use_id, ins in uid.items():
                    use = self._nodes_by_id[use_id]
                    self._edge(use, n, use.code)
                    for d in ins:
                        in_node = fg.num_to_node[d]
                        if in_node.id != use.id:
                            self._edge(in_node, use, self._label(in_node))
                    if not ins:
                        self._edge(method, n)
                self._edge(n, fg.exit, "<RET>")
            elif n.label == "METHOD_PARAMETER_OUT":
                pin = None
                for e in cpg.inn(n, "PARAMETER_LINK"):
                    pin = e.src
                if pin is not None:
                    self._edge(pin, n, pin.name)
                uid = ua.used_incoming_defs(n)
                for _use_id, ins in uid.items():
                    for d in ins:
                        in_node = fg.num_to_node[d]
                        self._edge(in_node, n, self._label(in_node))

        self._add_edges_to_captured(method)

        # exit node
        for d in inn.get(fg.exit.id, frozenset()):
            in_node = fg.num_to_node[d]
            self._edge(in_node, fg.exit, self._label(in_node))
        # lone identifiers → exit
        for _call_id, defs in tf.lone_identifiers.items():
            for d in defs:
                dn = fg.num_to_node[d]
                self._edge(dn, fg.exit, self._label(dn))

    def _add_edges_to_captured(self, method: Node):
        """addEdgesToCapturedIdentifiersAndParameters + module-literal globals
        (DdgGenerator.scala:170-201, dataflowengineoss/package.scala:19-48)."""
        cpg = self.cpg
        captures_by_decl: dict[int, list[Node]] = {}
        for decl, m in cpg.captures:
            captures_by_decl.setdefault(decl.id, []).append(m)

        def first_usages(decl: Node) -> list[Node]:
            out = []
            for m in captures_by_decl.get(decl.id, []):
                idents = [n for n in cpg.ast_subtree(m)
                          if n.label == "IDENTIFIER" and n.name == decl.name]
                idents.sort(key=lambda x: (x.line or 0, x.column or 0))
                if idents:
                    out.append(idents[0])
            return out

        contains = cpg.method_body_nodes(method)
        for ident in [n for n in contains if n.label == "IDENTIFIER"]:
            for e in cpg.out(ident, "REF"):
                for usage in first_usages(e.dst):
                    self._edge(ident, usage, self._label(ident))
        for param in cpg.parameters(method):
            for m in captures_by_decl.get(param.id, []):
                for n in cpg.ast_subtree(m):
                    if n.label == "IDENTIFIER":
                        self._edge(param, n, self._label(param))
        # module-level literal globals: for a literal assigned at module level,
        # connect the assignment target identifier to its first usage inside
        # each capturing closure (globalFromLiteral + identifierToFirstUsages).
        if not self._is_module(method):
            return
        seen_targets = set()
        for n in contains:
            if n.label not in ("CALL", "RETURN"):
                continue
            for lit in cpg.ast_subtree(n):
                if lit.label != "LITERAL":
                    continue
                for target in self._assignment_targets_of(lit):
                    if target.id in seen_targets or target.label != "IDENTIFIER":
                        continue
                    seen_targets.add(target.id)
                    for e in cpg.out(target, "REF"):
                        for usage in first_usages(e.dst):
                            self._edge(target, usage, self._label(target))

    def _assignment_targets_of(self, lit: Node) -> list[Node]:
        """Enclosing assignment targets of a literal (lit.inAssignment.target)."""
        out = []
        cur = lit
        while cur is not None:
            parent = self.cpg.ast_parent(cur)
            if parent is None or not parent.is_expression:
                break
            if parent.label == "CALL" and parent.name == "<operator>.assignment":
                t = self.cpg.argument(parent, 1)
                if t is not None:
                    out.append(t)
            cur = parent
        return out

    def _is_module(self, method: Node) -> bool:
        for c in self.cpg.ast_children(method):
            if c.label == "MODIFIER" and c.modifier_type == "MODULE":
                return True
        return False


def add_reaching_defs(cpg: Cpg, semantics: Semantics):
    gen = DdgGenerator(cpg, semantics)
    for method in cpg.methods():
        if method.is_external:
            continue
        gen.run(method)
