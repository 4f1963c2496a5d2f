"""AST → CFG translation (fringe composition).

Behavioral port of the reference's recursive fringe algorithm
(x2cpg passes/controlflow/cfgcreation/CfgCreator.scala:43-753 and
Cfg.scala:34-197): a sub-tree's CFG is a (entryNode, edges, fringe)
triple; appending connects the fringe to the next entry.  Edge kinds:
AlwaysEdge/TrueEdge/FalseEdge/CaseEdge.

Runs per (document, method) inside the per-document `mapInPandas` kernel
(`cpg.docmap.map_documents`) — the recursion is sequential per method,
parallel across documents.
"""

from __future__ import annotations

from typing import Optional

from joern_spark.cpg.core import Cpg, Node

ALWAYS = "AlwaysEdge"
TRUE = "TrueEdge"
FALSE = "FalseEdge"
CASE = "CaseEdge"


class Cfg:
    __slots__ = ("entry", "edges", "fringe", "labeled", "breaks", "continues",
                 "case_labels", "jumps_to_label")

    def __init__(self, entry=None, edges=None, fringe=None, labeled=None,
                 breaks=None, continues=None, case_labels=None, jumps_to_label=None):
        self.entry: Optional[Node] = entry
        self.edges: list[tuple[Node, Node, str]] = edges or []
        self.fringe: list[tuple[Node, str]] = fringe or []
        self.labeled: dict[str, Node] = labeled or {}
        self.breaks: list[tuple[Node, int]] = breaks or []
        self.continues: list[tuple[Node, int]] = continues or []
        self.case_labels: list[Node] = case_labels or []
        self.jumps_to_label: list[tuple[Node, str]] = jumps_to_label or []

    def is_empty(self) -> bool:
        return (self.entry is None and not self.edges and not self.fringe
                and not self.labeled and not self.breaks and not self.continues
                and not self.case_labels and not self.jumps_to_label)

    def append(self, other: "Cfg") -> "Cfg":
        if other.is_empty():
            return self
        if self.is_empty():
            return other
        return Cfg(
            entry=self.entry,
            edges=self.edges + other.edges + _edges_from_fringe(self.fringe, other.entry),
            fringe=other.fringe,
            labeled={**self.labeled, **other.labeled},
            breaks=self.breaks + other.breaks,
            continues=self.continues + other.continues,
            case_labels=self.case_labels + other.case_labels,
            jumps_to_label=self.jumps_to_label + other.jumps_to_label,
        )

    @staticmethod
    def gather(*cfgs: "Cfg") -> "Cfg":
        out = Cfg()
        for c in cfgs:
            out.labeled.update(c.labeled)
            out.breaks += c.breaks
            out.continues += c.continues
            out.case_labels += c.case_labels
            out.jumps_to_label += c.jumps_to_label
        return out


def _edges_from_fringe(fringe, entry: Optional[Node], override_type: Optional[str] = None):
    if entry is None:
        return []
    return [(n, entry, override_type or t) for n, t in fringe]


def _with_type(fringe, t: str):
    return [(n, t) for n, _ in fringe]


def _take_level(pairs, ):
    return [n for n, lvl in pairs if lvl == 1]


def _reduce_level(pairs):
    return [(n, lvl - 1) for n, lvl in pairs if lvl != 1]


class CfgCreator:
    def __init__(self, cpg: Cpg, method: Node):
        self.cpg = cpg
        self.method = method
        self.exit_node = cpg.method_return(method)

    def run(self) -> list[tuple[Node, Node, str]]:
        cfg = self.cfg_for_method(self.method)
        # resolve labeled jumps (gotos / labeled break+continue)
        extra = []
        for jump, label in cfg.jumps_to_label:
            target = cfg.labeled.get(label)
            if target is not None:
                extra.append((jump, target, ALWAYS))
        edges = cfg.edges + extra
        for src, dst, kind in edges:
            self.cpg.add_edge(src, dst, "CFG", variable=kind)
        return edges

    def cfg_for_method(self, node: Node) -> Cfg:
        return self.single(node).append(self.cfg_for_children(node))

    def single(self, node: Node) -> Cfg:
        return Cfg(entry=node, fringe=[(node, ALWAYS)])

    def cfg_for_children(self, node: Node) -> Cfg:
        out = Cfg()
        for child in self.cpg.ast_children(node):
            out = out.append(self.cfg_for(child))
        return out

    # -- dispatch (CfgCreator.cfgFor:99-129) ---------------------------------
    def cfg_for(self, node: Node) -> Cfg:
        label = node.label
        if label in ("METHOD", "METHOD_PARAMETER_IN", "METHOD_PARAMETER_OUT",
                     "MODIFIER", "LOCAL", "TYPE_DECL", "MEMBER", "IMPORT",
                     "BINDING", "FILE", "DEPENDENCY"):
            return Cfg()
        if label == "NAMESPACE_BLOCK":
            # inline TS namespaces hold real statements — keep their CFG
            return self.cfg_for_children(node)
        if label in ("METHOD_REF", "TYPE_REF", "METHOD_RETURN"):
            return self.single(node)
        if label == "CONTROL_STRUCTURE":
            return self.cfg_for_control_structure(node)
        if label == "JUMP_TARGET":
            return self.cfg_for_jump_target(node)
        if label == "RETURN":
            return self.cfg_for_return(node, inherit_fringe=self._within_try(node))
        if label == "CALL":
            if node.name == "<operator>.logicalAnd":
                return self.cfg_for_and(node)
            if node.name == "<operator>.logicalOr":
                return self.cfg_for_or(node)
            if node.name == "<operator>.conditional":
                return self.cfg_for_conditional(node)
            return self.cfg_for_children(node).append(self.single(node))
        if label == "BLOCK":
            if self._block_matches(node):
                return self.cfg_for_children(node)
            return self.cfg_for_children(node).append(self.single(node))
        if label in ("FIELD_IDENTIFIER", "IDENTIFIER", "LITERAL", "UNKNOWN"):
            return self.cfg_for_children(node).append(self.single(node))
        return self.cfg_for_children(node)

    def _within_try(self, node: Node) -> bool:
        cur = self.cpg.ast_parent(node)
        while cur is not None and cur.label != "BLOCK":
            cur = self.cpg.ast_parent(cur)
        if cur is None:
            return False
        parent = self.cpg.ast_parent(cur)
        return parent is not None and parent.label == "CONTROL_STRUCTURE" \
            and parent.control_structure_type == "TRY"

    def _block_matches(self, block: Node) -> bool:
        parent = self.cpg.ast_parent(block)
        if parent is None:
            return False
        if parent.label in ("METHOD", "CONTROL_STRUCTURE"):
            return True
        if parent.label == "CALL" and parent.name in (
            "<operator>.conditional", "<operator>.logicalOr", "<operator>.logicalAnd"
        ):
            return True
        if parent.label == "CALL" and parent.dispatch_type == "INLINED":
            return True
        return False

    # -- control structures ----------------------------------------------------
    def cfg_for_control_structure(self, node: Node) -> Cfg:
        kind = node.control_structure_type
        if kind == "BREAK":
            return self.cfg_for_break(node)
        if kind == "CONTINUE":
            return self.cfg_for_continue(node)
        if kind == "WHILE":
            return self.cfg_for_while(node)
        if kind == "DO":
            return self.cfg_for_do(node)
        if kind == "FOR":
            return self.cfg_for_for(node)
        if kind == "GOTO":
            return self.cfg_for_goto(node)
        if kind == "IF":
            return self.cfg_for_if(node)
        if kind in ("ELSE", "CATCH", "FINALLY"):
            return self.cfg_for_children(node)
        if kind == "SWITCH":
            return self.cfg_for_switch(node)
        if kind == "TRY":
            return self.cfg_for_try(node)
        if kind == "THROW":
            return self.cfg_for_throw(node)
        return Cfg()

    def _typed_child(self, node: Node, edge: str) -> Optional[Node]:
        es = self.cpg.out(node, edge)
        return es[0].dst if es else None

    def _condition(self, node):
        return self._typed_child(node, "CONDITION")

    def cfg_for_throw(self, node: Node) -> Cfg:
        arg = None
        args = self.cpg.out(node, "ARGUMENT")
        if args:
            arg = args[0].dst
        arg_cfg = self.cfg_for(arg) if arg is not None else Cfg()
        combined = arg_cfg.append(Cfg(entry=node))
        combined.edges = combined.edges + [(node, self.exit_node, ALWAYS)]
        return combined

    def cfg_for_break(self, node: Node) -> Cfg:
        jl = self._typed_child(node, "JUMP_ARGUMENT")
        if jl is not None and jl.label == "JUMP_LABEL":
            return Cfg(entry=node, jumps_to_label=[(node, jl.name)])
        return Cfg(entry=node, breaks=[(node, 1)])

    def cfg_for_continue(self, node: Node) -> Cfg:
        jl = self._typed_child(node, "JUMP_ARGUMENT")
        if jl is not None and jl.label == "JUMP_LABEL":
            return Cfg(entry=node, jumps_to_label=[(node, jl.name)])
        return Cfg(entry=node, continues=[(node, 1)])

    def cfg_for_jump_target(self, node: Node) -> Cfg:
        cfg = self.single(node)
        if node.name.startswith("case") or node.name.startswith("default"):
            cfg.case_labels = [node]
        else:
            cfg.labeled = {node.name: node}
        return cfg

    def cfg_for_goto(self, node: Node) -> Cfg:
        jl = self._typed_child(node, "JUMP_ARGUMENT")
        if jl is not None:
            return Cfg(entry=node, jumps_to_label=[(node, jl.name)])
        return Cfg()

    def cfg_for_return(self, node: Node, inherit_fringe=False) -> Cfg:
        children = self.cfg_for_children(node)
        ret = Cfg(entry=node, edges=[(node, self.exit_node, ALWAYS)],
                  fringe=children.fringe if inherit_fringe else [])
        return children.append(ret)

    def cfg_for_and(self, call: Node) -> Cfg:
        left = self.cfg_for(self.cpg.argument(call, 1))
        right = self.cfg_for(self.cpg.argument(call, 2))
        edges = _edges_from_fringe(left.fringe, right.entry, TRUE) + left.edges + right.edges
        combined = Cfg.gather(left, right)
        combined.entry = left.entry
        combined.edges = edges
        combined.fringe = left.fringe + right.fringe
        return combined.append(self.single(call))

    def cfg_for_or(self, call: Node) -> Cfg:
        left = self.cfg_for(self.cpg.argument(call, 1))
        right = self.cfg_for(self.cpg.argument(call, 2))
        edges = _edges_from_fringe(left.fringe, right.entry, FALSE) + left.edges + right.edges
        combined = Cfg.gather(left, right)
        combined.entry = left.entry
        combined.edges = edges
        combined.fringe = left.fringe + right.fringe
        return combined.append(self.single(call))

    def cfg_for_conditional(self, call: Node) -> Cfg:
        cond = self.cfg_for(self.cpg.argument(call, 1))
        arg2 = self.cpg.argument(call, 2)
        arg3 = self.cpg.argument(call, 3)
        true_cfg = self.cfg_for(arg2) if arg2 is not None else Cfg()
        false_cfg = self.cfg_for(arg3) if arg3 is not None else Cfg()
        edges = (_edges_from_fringe(cond.fringe, true_cfg.entry, TRUE)
                 + _edges_from_fringe(cond.fringe, false_cfg.entry, FALSE))
        true_fringe = true_cfg.fringe if true_cfg.entry is not None \
            else _with_type(cond.fringe, TRUE)
        false_fringe = false_cfg.fringe if false_cfg.entry is not None \
            else _with_type(cond.fringe, FALSE)
        combined = Cfg.gather(cond, true_cfg, false_cfg)
        combined.entry = cond.entry
        combined.edges = cond.edges + true_cfg.edges + false_cfg.edges + edges
        combined.fringe = true_fringe + false_fringe
        return combined.append(self.single(call))

    def cfg_for_for(self, node: Node) -> Cfg:
        init_n = self._typed_child(node, "FOR_INIT")
        cond_n = self._condition(node)
        upd_n = self._typed_child(node, "FOR_UPDATE")
        body_n = self._typed_child(node, "FOR_BODY")
        init_cfg = self.cfg_for(init_n) if init_n is not None else Cfg()
        cond_cfg = self.cfg_for(cond_n) if cond_n is not None else Cfg()
        upd_cfg = self.cfg_for(upd_n) if upd_n is not None else Cfg()
        body_cfg = self.cfg_for(body_n) if body_n is not None else Cfg()

        inner = body_cfg.append(upd_cfg)
        loop_entry = cond_cfg.entry if cond_cfg.entry is not None else inner.entry
        entry = init_cfg.entry if init_cfg.entry is not None else loop_entry

        new_edges = (_edges_from_fringe(init_cfg.fringe, loop_entry)
                     + _edges_from_fringe(inner.fringe, loop_entry)
                     + _edges_from_fringe(
                         cond_cfg.fringe,
                         inner.entry if inner.entry is not None else cond_cfg.entry, TRUE))
        cont_target = upd_cfg.entry if upd_cfg.entry is not None else loop_entry
        new_edges += [(n, cont_target, ALWAYS)
                      for n in _take_level(body_cfg.continues) if cont_target is not None]

        combined = Cfg.gather(init_cfg, cond_cfg, upd_cfg, body_cfg)
        combined.entry = entry
        combined.edges = new_edges + init_cfg.edges + cond_cfg.edges + inner.edges
        combined.fringe = _with_type(cond_cfg.fringe, FALSE) + \
            [(n, ALWAYS) for n in _take_level(body_cfg.breaks)]
        combined.breaks = _reduce_level(body_cfg.breaks)
        combined.continues = _reduce_level(body_cfg.continues)
        return combined

    def cfg_for_do(self, node: Node) -> Cfg:
        body_n = self._typed_child(node, "DO_BODY")
        body_cfg = self.cfg_for(body_n) if body_n is not None else Cfg()
        cond_n = self._condition(node)
        cond_cfg = self.cfg_for(cond_n) if cond_n is not None else Cfg()
        inner = body_cfg.append(cond_cfg)
        edges = ([(n, cond_cfg.entry, ALWAYS)
                  for n in _take_level(body_cfg.continues) if cond_cfg.entry is not None]
                 + _edges_from_fringe(body_cfg.fringe, cond_cfg.entry)
                 + _edges_from_fringe(cond_cfg.fringe, inner.entry, TRUE))
        combined = Cfg.gather(body_cfg, cond_cfg)
        combined.entry = body_cfg.entry if not body_cfg.is_empty() else cond_cfg.entry
        combined.edges = edges + body_cfg.edges + cond_cfg.edges
        combined.fringe = _with_type(cond_cfg.fringe, FALSE) + \
            [(n, ALWAYS) for n in _take_level(body_cfg.breaks)]
        combined.breaks = _reduce_level(body_cfg.breaks)
        combined.continues = _reduce_level(body_cfg.continues)
        return combined

    def cfg_for_while(self, node: Node) -> Cfg:
        cond_n = self._condition(node)
        true_n = self._typed_child(node, "TRUE_BODY")
        false_n = self._typed_child(node, "FALSE_BODY")
        cond_cfg = self.cfg_for(cond_n) if cond_n is not None else Cfg()
        true_cfg = self.cfg_for(true_n) if true_n is not None else Cfg()
        false_cfg = self.cfg_for(false_n) if false_n is not None else Cfg()
        edges = (_edges_from_fringe(cond_cfg.fringe, true_cfg.entry)
                 + _edges_from_fringe(true_cfg.fringe, false_cfg.entry)
                 + _edges_from_fringe(true_cfg.fringe, cond_cfg.entry)
                 + [(n, cond_cfg.entry, ALWAYS)
                    for n in _take_level(true_cfg.continues) if cond_cfg.entry is not None])
        combined = Cfg.gather(cond_cfg, true_cfg, false_cfg)
        combined.entry = cond_cfg.entry
        combined.edges = edges + cond_cfg.edges + true_cfg.edges + false_cfg.edges
        combined.fringe = (_with_type(cond_cfg.fringe, FALSE)
                           + [(n, ALWAYS) for n in _take_level(true_cfg.breaks)]
                           + false_cfg.fringe)
        combined.breaks = _reduce_level(true_cfg.breaks)
        combined.continues = _reduce_level(true_cfg.continues)
        return combined

    def cfg_for_switch(self, node: Node) -> Cfg:
        cond_n = self._condition(node)
        body_n = self._typed_child(node, "TRUE_BODY")
        cond_cfg = self.cfg_for(cond_n) if cond_n is not None else Cfg()
        body_cfg = self.cfg_for(body_n) if body_n is not None else Cfg()
        return self._switch_like(cond_cfg, [body_cfg])

    def _switch_like(self, cond_cfg: Cfg, body_cfgs: list[Cfg]) -> Cfg:
        has_default = any(cl.name == "default" for c in body_cfgs for cl in c.case_labels)
        case_edges = []
        for n, _ in cond_cfg.fringe:
            for c in body_cfgs:
                for cl in c.case_labels:
                    case_edges.append((n, cl, CASE))
        break_fringe = [(n, ALWAYS) for c in body_cfgs for n in _take_level(c.breaks)]
        combined = Cfg.gather(cond_cfg, *body_cfgs)
        combined.entry = cond_cfg.entry
        combined.edges = case_edges + cond_cfg.edges + [e for c in body_cfgs for e in c.edges]
        fringe = [] if has_default else _with_type(cond_cfg.fringe, FALSE)
        combined.fringe = fringe + break_fringe + [f for c in body_cfgs for f in c.fringe]
        combined.case_labels = []
        combined.breaks = _reduce_level([b for c in body_cfgs for b in c.breaks])
        combined.continues = [x for c in body_cfgs for x in c.continues]
        return combined

    def cfg_for_if(self, node: Node) -> Cfg:
        cond_n = self._condition(node)
        true_n = self._typed_child(node, "TRUE_BODY")
        false_n = self._typed_child(node, "FALSE_BODY")
        cond_cfg = self.cfg_for(cond_n) if cond_n is not None else Cfg()
        true_cfg = self.cfg_for(true_n) if true_n is not None else Cfg()
        false_cfg = self.cfg_for(false_n) if false_n is not None else Cfg()
        edges = (_edges_from_fringe(cond_cfg.fringe, true_cfg.entry)
                 + _edges_from_fringe(cond_cfg.fringe, false_cfg.entry))
        if true_cfg.entry is None and false_cfg.entry is None:
            fringe = _with_type(cond_cfg.fringe, ALWAYS)
        else:
            tf = true_cfg.fringe if true_cfg.entry is not None \
                else _with_type(cond_cfg.fringe, TRUE)
            ff = false_cfg.fringe if false_cfg.entry is not None \
                else _with_type(cond_cfg.fringe, FALSE)
            fringe = tf + ff
        combined = Cfg.gather(cond_cfg, true_cfg, false_cfg)
        combined.entry = cond_cfg.entry
        combined.edges = edges + cond_cfg.edges + true_cfg.edges + false_cfg.edges
        combined.fringe = fringe
        return combined

    def cfg_for_try(self, node: Node) -> Cfg:
        body_n = self._typed_child(node, "TRY_BODY")
        body_cfg = self.cfg_for(body_n) if body_n is not None else Cfg()
        catch_ns = [e.dst for e in self.cpg.out(node, "CATCH_BODY")]
        catch_cfgs = [self.cfg_for(c) for c in catch_ns] or [Cfg()]
        fin_ns = [e.dst for e in self.cpg.out(node, "FINALLY_BODY")]
        fin_cfgs = [self.cfg_for(f) for f in fin_ns[:1]]

        edges = []
        for c in catch_cfgs:
            edges += _edges_from_fringe(body_cfg.fringe, c.entry)
        for c in catch_cfgs:
            for f in fin_cfgs:
                edges += _edges_from_fringe(c.fringe, f.entry)
        for f in fin_cfgs:
            edges += _edges_from_fringe(body_cfg.fringe, f.entry)

        if body_n is None:
            return fin_cfgs[0] if fin_cfgs else Cfg()
        combined = Cfg.gather(body_cfg, *catch_cfgs, *fin_cfgs)
        combined.entry = body_cfg.entry
        combined.edges = (edges + body_cfg.edges
                          + [e for c in catch_cfgs for e in c.edges]
                          + [e for f in fin_cfgs for e in f.edges])
        if fin_cfgs and fin_cfgs[0].entry is not None:
            combined.fringe = fin_cfgs[0].fringe
        else:
            combined.fringe = body_cfg.fringe + [f for c in catch_cfgs for f in c.fringe]
        return combined


def add_cfg(cpg: Cpg):
    """Run CFG creation for every method of the document."""
    for method in cpg.methods():
        CfgCreator(cpg, method).run()
