"""In-process mock MaxScale CDC server for tests — the Python analogue
of the reference's test double (/root/reference/gomaxscale_test.go:313-489).

Validates each handshake stage with the same acceptance rules:
- auth: hex-decodable, contains 'user:...' after decode;
- registration: ``REGISTER UUID=<..>, TYPE=JSON``;
- subscription: ``REQUEST-DATA db.table[...]``;
replies 'OK' / 'ERR <reason>' per stage, supports per-stage failure
injection (failAuthentication/failRegistration/failEvents) and scripted
event payloads, including deliberately split/merged/garbage-interleaved
writes to exercise the framing carry-over.
"""

from __future__ import annotations

import json
import re
import socket
import socketserver
import threading
from dataclasses import dataclass, field
from typing import Any

RE_AUTH = re.compile(rb"^.*?:.*$", re.DOTALL)
RE_REGISTRATION = re.compile(rb"^REGISTER UUID=.+?, TYPE=JSON$")
RE_DATA_STREAM = re.compile(rb"^REQUEST-DATA .+?\..+")


@dataclass
class MockMaxScaleServer:
    fail_authentication: bool = False
    fail_registration: bool = False
    fail_events: bool = False
    #: wire payloads to send once subscribed. Each item is raw bytes
    #: written as-is or a dict (JSON-encoded + newline, like the
    #: reference's json.Encoder).
    script: list[Any] = field(default_factory=list)
    #: delay (seconds) after each item's write, to let client polls
    #: interleave; callers control chunking by splitting items. Without
    #: it the script is one burst and goes out in one write, so a
    #: reader finds all of it on the socket at once.
    write_delay: float = 0.0
    keep_open: float = 0.25  # linger after the script so the client can drain
    port: int = 0  # 0 = random; fix it to restart a server on the same address
    #: honor REQUEST-DATA's trailing GTID like the real avrorouter:
    #: replay dict-script DML events from that GTID onward (INCLUSIVE)
    honor_gtid: bool = True

    def __post_init__(self) -> None:
        self.requests: list[bytes] = []
        self._server: socketserver.ThreadingTCPServer | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle -----------------------------------------------------

    def start(self) -> tuple[str, int]:
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:  # noqa: D102
                outer._handle(self.request)

        socketserver.ThreadingTCPServer.allow_reuse_address = True
        self._server = socketserver.ThreadingTCPServer(("127.0.0.1", self.port), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self._server.server_address

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None

    def __enter__(self) -> tuple[str, int]:
        return self.start()

    def __exit__(self, *exc: object) -> None:
        self.stop()

    # -- connection protocol --------------------------------------------

    def _handle(self, conn: socket.socket) -> None:
        import binascii
        import time

        try:
            # authentication
            auth = conn.recv(1024)
            self.requests.append(auth)
            try:
                decoded = binascii.unhexlify(auth)
            except binascii.Error:
                conn.sendall(b"ERR failed to decode authentication request")
                return
            if not RE_AUTH.match(decoded):
                conn.sendall(b"ERR invalid authentication format")
                return
            if self.fail_authentication:
                conn.sendall(b"ERR authentication failed")
                return
            conn.sendall(b"OK")

            # registration
            reg = conn.recv(1024)
            self.requests.append(reg)
            if not RE_REGISTRATION.match(reg):
                conn.sendall(b"ERR invalid registration format")
                return
            if self.fail_registration:
                conn.sendall(b"ERR registration failed")
                return
            conn.sendall(b"OK")

            # subscription
            sub = conn.recv(1024)
            self.requests.append(sub)
            if not RE_DATA_STREAM.match(sub):
                conn.sendall(b"ERR invalid data stream format")
                return
            if self.fail_events:
                conn.sendall(b"ERR events failed")
                return

            # scripted events, optionally resumed from the requested GTID
            resume_from: tuple | None = None
            if self.honor_gtid:
                parts = sub.decode(errors="replace").split()
                if len(parts) >= 3:  # REQUEST-DATA db.table <gtid>
                    try:
                        d, s, q = (int(x) for x in parts[2].split("-"))
                        resume_from = (d, s, q)
                    except ValueError:
                        pass
            payloads = []
            for item in self.script:
                if (
                    resume_from is not None
                    and isinstance(item, dict)
                    and item.get("domain") is not None
                    and (
                        int(item.get("domain", 0)),
                        int(item.get("server_id", 0)),
                        int(item.get("sequence", 0)),
                    )
                    < resume_from
                ):
                    continue  # before the requested GTID (resume is inclusive)
                payloads.append(
                    json.dumps(item).encode() + b"\n" if isinstance(item, dict) else item
                )
            if not self.write_delay:
                payloads = [b"".join(payloads)]
            for payload in payloads:
                conn.sendall(payload)
                time.sleep(self.write_delay)
            time.sleep(self.keep_open)
        except (BrokenPipeError, ConnectionResetError, OSError):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass
