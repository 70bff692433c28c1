"""Local HTTP origin on 127.0.0.1 for the export's asset plane.

Keep-alive HTTP/1.1 with a fixed 404 set. Each response (status line,
headers and body) goes out in one ``sendall``: a handler that writes the
headers and the body separately hits the Nagle / delayed-ACK stall
(~40 ms per response on Linux), which would measure this server rather
than the exporter's pooled fetch. At most ``MAX_CONNECTIONS`` are served
at once; further connects wait in the listen backlog. Counts requests,
connections, 200 responses and their body bytes.
"""

from __future__ import annotations

import socket
import threading

from wpsite import asset_body


#: The exporter's default asset parallelism (``asset_parallelism``).
MAX_CONNECTIONS = 2
#: A keep-alive connection idle this long is closed, freeing its slot.
IDLE_TIMEOUT_S = 2.0


class Origin:
    def __init__(self):
        self.paths: dict[str, int] = {}  # url path -> body size; anything else 404s
        self.requests = 0
        self.connections = 0
        self.ok = 0
        self.bytes = 0
        self._lock = threading.Lock()
        self._slots = threading.BoundedSemaphore(MAX_CONNECTIONS)
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(64)
        self._sock.settimeout(0.2)  # lets the acceptor notice close()
        self.url = f"http://127.0.0.1:{self._sock.getsockname()[1]}"
        self._closing = False
        self._threads: list[threading.Thread] = []
        self._acceptor = threading.Thread(target=self._accept, daemon=True)
        self._acceptor.start()

    def reset_counts(self) -> None:
        with self._lock:
            self.requests = self.connections = self.ok = self.bytes = 0

    def counts(self) -> dict:
        with self._lock:
            return {"requests": self.requests, "connections": self.connections,
                    "ok": self.ok, "bytes": self.bytes}

    def _accept(self) -> None:
        while not self._closing:
            if not self._slots.acquire(timeout=0.2):
                continue
            try:
                conn, _ = self._sock.accept()
            except OSError:  # accept timed out, or the socket was closed
                self._slots.release()
                continue
            with self._lock:
                self.connections += 1
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            self._threads = [x for x in self._threads if x.is_alive()] + [t]
            t.start()

    def _serve(self, conn: socket.socket) -> None:
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        conn.settimeout(IDLE_TIMEOUT_S)
        buf = b""
        try:
            while not self._closing:
                while b"\r\n\r\n" not in buf:
                    chunk = conn.recv(65536)
                    if not chunk:
                        return
                    buf += chunk
                head, buf = buf.split(b"\r\n\r\n", 1)
                parts = head.split(b"\r\n", 1)[0].split(b" ")
                path = parts[1].decode("latin-1") if len(parts) >= 2 else "/"
                size = self.paths.get(path)
                if size is None:
                    body, status = b"not found", b"404 Not Found"
                else:
                    body, status = asset_body(path, size), b"200 OK"
                conn.sendall(
                    b"HTTP/1.1 " + status + b"\r\nContent-Length: "
                    + str(len(body)).encode() + b"\r\nConnection: keep-alive\r\n\r\n" + body
                )
                with self._lock:
                    self.requests += 1
                    if size is not None:
                        self.ok += 1
                        self.bytes += len(body)
        except OSError:  # idle timeout or client reset
            return
        finally:
            conn.close()
            self._slots.release()

    def close(self) -> None:
        self._closing = True
        self._acceptor.join()
        self._sock.close()
        for t in self._threads:
            t.join()
