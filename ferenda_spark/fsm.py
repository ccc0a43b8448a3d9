"""A configurable finite-state-machine structure parser.

From-scratch implementation with the observable semantics of the
reference's FSMParser (ferenda/fsmparser.py:13-239, SURVEY.md P9):

* *recognizers*: ordered predicates over the chunk stream (1-chunk
  lookahead via :class:`Peek`);
* *transition table*: ``{(state | tuple_of_states, recognizer):
  (constructor | False, newstate | None)}``;
* ``make_children(parent)`` loop: recognize the next chunk with the
  first applicable recognizer (recognizer order, filtered to those with
  a transition from the current state), look up the transition —
  ``False`` pops back to the parent (optionally rewriting the state we
  return to), a constructor builds a child (descending into a new state
  frame when it is marked with ``.newstate``).

This runs *inside* the Arrow row mapper (``rowmap.map_rows``) on the
Spark side — sequential per document, one Arrow batch of documents per
Python call (SURVEY.md §2.10).
It is deliberately Spark-free so FSM golden tests run in plain pytest
(mirroring the reference's test/files/fsmparser fixtures).
"""

from __future__ import annotations

from collections import deque


class FSMStateError(Exception):
    """No recognizer matched the next chunk in the current state."""


class Peek:
    """Iterator with k-chunk lookahead (fsmparser.py:244-268 semantics)."""

    def __init__(self, iterable):
        self._it = iter(iterable)
        self._buf = deque()

    def __iter__(self):
        return self

    def __next__(self):
        if self._buf:
            return self._buf.popleft()
        return next(self._it)

    next = __next__

    def peek(self, n: int = 1):
        while len(self._buf) < n:
            self._buf.append(next(self._it))
        return self._buf[n - 1]


def newstate(state):
    """Mark a constructor as descending into a child state frame (the
    reference's @decorators.newstate, decorators.py:321-327)."""
    def wrap(fn):
        fn.newstate = state
        return fn
    return wrap


class StructureParser:
    """The FSM driver.  Configure with ``recognizers`` (ordered) and
    ``transitions``; run with :meth:`parse`."""

    def __init__(self):
        self.recognizers = ()
        self.transitions = {}
        self.initial_state = None
        self.initial_constructor = None
        self.reader = None
        self._stack = []

    def set_recognizers(self, *recognizers):
        self.recognizers = recognizers

    def set_transitions(self, transitions):
        self.transitions = {}
        for (states, recognizer), outcome in transitions.items():
            if not isinstance(states, (list, tuple)):
                states = (states,)
            for s in states:
                self.transitions[(s, recognizer)] = outcome

    @property
    def current_state(self):
        return self._stack[-1]

    def parse(self, chunks):
        self.reader = Peek(chunks)
        self._stack = [self.initial_state]
        return self.initial_constructor(self)

    def _recognize(self):
        try:
            self.reader.peek()
        except StopIteration:
            return None
        state = self._stack[-1]
        for rec in self.recognizers:
            if (state, rec) in self.transitions and rec(self):
                return rec
        raise FSMStateError(
            "no recognizer matched in state %r (chunk %.60r)"
            % (state, str(self.reader.peek())))

    def make_child(self, constructor, childstate):
        """Run one constructor in a child state frame (public, like the
        reference's FSMParser.make_child, fsmparser.py:166-180 — used
        by constructors that build their first child explicitly)."""
        self._stack.append(childstate or self._stack[-1])
        try:
            return constructor(self)
        finally:
            self._stack.pop()

    _make_child = make_child

    def _transition(self, state, symbol):
        """Resolve a transition outcome; a callable value is a dynamic
        transition ``t(symbol, state_stack) -> (constructor, newstate)``
        (fsmparser.py:150-164)."""
        t = self.transitions[(state, symbol)]
        if callable(t):
            return t(symbol, self._stack)
        return t

    def make_children(self, parent):
        while True:
            symbol = self._recognize()
            if symbol is None:
                return parent
            constructor, nxt = self._transition(self._stack[-1], symbol)
            if nxt and not hasattr(constructor, "newstate"):
                self._stack[-1] = nxt
            if constructor:
                try:
                    child = self._make_child(
                        constructor, getattr(constructor, "newstate", None) and nxt)
                except StopIteration:
                    return parent
                if child is not None:
                    parent.append(child)
            else:
                if nxt and len(self._stack) >= 2:
                    # rewrite the state we return to (fsmparser.py:228-236)
                    self._stack[-2] = nxt
                return parent
