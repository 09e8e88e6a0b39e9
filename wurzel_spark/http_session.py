"""The lazy HTTP session every service client shares (the TEI embedder
and the sink backends).

A client holds only strings and numbers until its first request, so it
pickles into ``foreachPartition``/``mapInPandas`` closures, and each
executor builds its own session there.
"""

from __future__ import annotations


class LazySession:
    """One session per client (and one bare session, for a client with a
    ``bare_session_factory``), built on first use: the client's
    ``session_factory``'s, or a ``requests`` session carrying the
    client's ``_headers()``."""

    def _headers(self) -> dict[str, str]:
        return {}

    def _session(self, bare: bool = False):
        attr = "_b" if bare else "_s"
        if getattr(self, attr, None) is None:
            factory = self.bare_session_factory if bare else self.session_factory
            if factory is None:
                import requests

                s = requests.Session()
                s.headers.update({} if bare else self._headers())
            else:
                s = factory()
            setattr(self, attr, s)
        return getattr(self, attr)
