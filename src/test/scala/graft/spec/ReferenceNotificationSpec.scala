package graft.spec

import graft.SparkSpec
import graft.algo.EmailNotifier
import graft.algo.EmailNotifier.{NotifierConfigException, NotifierTemplateNotFoundException}
import graft.spec.TerminatorSpec

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.{CopyOnWriteArrayList, CountDownLatch}

/** The reference's notification scenarios executed verbatim
  * (`tests/feature/test_notification.py` against the debug SMTP server of
  * `tests/utils/smtp_server.py`): template + free-form emails delivered
  * over a real local SMTP exchange, parsed back with the reference
  * driver's own regexes, plus the error contracts. */
class ReferenceNotificationSpec extends SparkSpec {

  /** Stand-ins for the reference's attachments, vendored with its file
    * names (FIXTURES.md §9). */
  private val attachmentsPath = {
    val url = getClass.getResource("/notification/")
    assert(url != null, "missing fixture notification/")
    new java.io.File(url.toURI).getPath + "/"
  }

  // ---- debug SMTP server (tests/utils/smtp_server.py) -----------------

  /** Accepts plain SMTP, refuses STARTTLS/AUTH (as an aiosmtpd controller
    * without TLS does), captures each DATA payload. */
  private final class FakeSmtpServer(port: Int) {
    val messages = new CopyOnWriteArrayList[String]()
    private val server = new ServerSocket(port)
    private val started = new CountDownLatch(1)
    @volatile private var running = true
    private val thread = new Thread(() => {
      started.countDown()
      while (running) {
        try {
          val sock = server.accept()
          handle(sock)
        } catch { case _: Exception => /* closed */ }
      }
    }, "fake-smtp")
    thread.setDaemon(true)

    def start(): Unit = { thread.start(); started.await() }
    def stop(): Unit = { running = false; server.close() }
    def lastMessage: String = messages.get(messages.size() - 1)

    private def handle(sock: Socket): Unit = {
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, "UTF-8"))
      val out = new OutputStreamWriter(sock.getOutputStream, "UTF-8")
      def send(s: String): Unit = { out.write(s + "\r\n"); out.flush() }
      send("220 localhost SMTP fake")
      var line = in.readLine()
      while (line != null) {
        val upper = line.toUpperCase
        if (upper.startsWith("EHLO") || upper.startsWith("HELO")) send("250 localhost")
        else if (upper.startsWith("STARTTLS")) send("454 TLS not available")
        else if (upper.startsWith("AUTH")) send("502 command not implemented")
        else if (upper.startsWith("MAIL") || upper.startsWith("RCPT")) send("250 OK")
        else if (upper.startsWith("DATA")) {
          send("354 End data with <CR><LF>.<CR><LF>")
          val sb = new StringBuilder
          var l = in.readLine()
          while (l != null && l != ".") {
            sb.append(if (l.startsWith("..")) l.substring(1) else l).append('\n')
            l = in.readLine()
          }
          messages.add(sb.toString)
          send("250 OK")
        } else if (upper.startsWith("QUIT")) { send("221 Bye"); sock.close(); return }
        else send("250 OK")
        line = in.readLine()
      }
    }
  }

  // ---- the reference driver's `_parse_email_output` regexes -----------

  private def parseEmail(mail: String): (String, Seq[String], Seq[String],
      Seq[String], String, String, String, Seq[String]) = {
    def search(p: String): String =
      p.r.findFirstIn(mail).getOrElse(sys.error(s"no match for $p"))
    val from = search("(?<=From: ).*")
    val to = search("(?<=To: ).*").split(", ", -1).toSeq
    val cc = search("(?<=CC: ).*").split(", ", -1).toSeq
    val bcc = search("(?<=BCC: ).*").split(", ", -1).toSeq
    val mimetype = search("(?<=Content-Type: ).*(?=; charset)")
    val subject = search("(?<=Subject: ).*")
    val rawMessage = "(?s)(?<=bit\n).*?(?=--=)".r.findFirstIn(mail)
      .getOrElse(sys.error("no message"))
    val message = rawMessage.substring(1, rawMessage.length - 1)
    val attachments = "(?<=filename=\").*(?=\")".r.findAllIn(mail).toSeq
    (from, to, cc, bcc, mimetype, subject, message, attachments)
  }

  private val ExpectedTemplateMessage =
    "\n            Job local in workspace local has\n            " +
      "failed with the exception: test-exception"

  private def withSmtp[A](port: Int)(body: FakeSmtpServer => A): A = {
    val s = new FakeSmtpServer(port)
    s.start()
    try body(s) finally s.stop()
  }

  private def disallowedConf[A](body: => A): A =
    withConf("spark.graft.notifDisallowedEmailServers" -> "smtp.test.com") {
      spark.emptyDataFrame // force session active
      body
    }

  // ---- EmailNotifier scenarios (test_notification.py:25-190) ----------

  test("reference notification: template email renders and delivers") {
    withSmtp(10250) { smtp =>
      val args = Map[String, Any](
        "server" -> "localhost", "port" -> "10250", "type" -> "email",
        "template" -> "failure_notification_email",
        "from" -> "test-email@email.com",
        "cc" -> Seq("test-email1@email.com", "test-email2@email.com"),
        "mimetype" -> "text/text", "exception" -> "test-exception")
      val notification = EmailNotifier.createNotification(args)
      EmailNotifier.sendNotification(notification)
      val (from, _, cc, _, mimetype, subject, message, attachments) =
        parseEmail(smtp.lastMessage)
      assert(from == "test-email@email.com")
      assert(cc == Seq("test-email1@email.com", "test-email2@email.com"))
      assert(mimetype == "text/text")
      assert(subject == "Service Failure")
      assert(message == ExpectedTemplateMessage)
      assert(attachments.isEmpty)
    }
  }

  test("reference notification: free-form email with attachments") {
    withSmtp(10251) { smtp =>
      val args = Map[String, Any](
        "server" -> "localhost", "port" -> "10251", "type" -> "email",
        "from" -> "test-email@email.com",
        "to" -> Seq("test-email1@email.com", "test-email2@email.com"),
        "mimetype" -> "text/text", "subject" -> "Test Email",
        "message" -> "Test message for the email.",
        "attachments" -> Seq(
          s"${attachmentsPath}test_attachement.txt",
          s"${attachmentsPath}test_image.png"))
      EmailNotifier.sendNotification(EmailNotifier.createNotification(args))
      val (from, to, _, _, mimetype, subject, message, attachments) =
        parseEmail(smtp.lastMessage)
      assert(from == "test-email@email.com")
      assert(to == Seq("test-email1@email.com", "test-email2@email.com"))
      assert(mimetype == "text/text")
      assert(subject == "Test Email")
      assert(message == "Test message for the email.")
      assert(attachments == Seq("test_attachement.txt", "test_image.png"))
    }
  }

  test("reference notification: html free-form email") {
    withSmtp(10252) { smtp =>
      val args = Map[String, Any](
        "server" -> "localhost", "port" -> "10252", "type" -> "email",
        "from" -> "test-email@email.com",
        "to" -> Seq("test-email1@email.com", "test-email2@email.com"),
        "mimetype" -> "text/html", "subject" -> "Test Email",
        "message" -> "<html><body>Test message.</body></html>")
      EmailNotifier.sendNotification(EmailNotifier.createNotification(args))
      val (_, _, _, _, mimetype, _, message, _) = parseEmail(smtp.lastMessage)
      assert(mimetype == "text/html")
      assert(message == "<html><body>Test message.</body></html>")
    }
  }

  test("reference notification: non-existent template raises") {
    val e = intercept[NotifierTemplateNotFoundException] {
      EmailNotifier.createNotification(Map[String, Any](
        "server" -> "localhost", "port" -> "1025", "type" -> "email",
        "template" -> "missing_template"))
    }
    assert(e.getMessage.contains("Template missing_template does not exist"))
  }

  test("reference notification: malformed definition raises") {
    val e = intercept[NotifierConfigException] {
      EmailNotifier.createNotification(Map[String, Any](
        "server" -> "localhost", "port" -> "1025", "type" -> "email",
        "from" -> "test-email@email.com",
        "to" -> Seq("test-email1@email.com", "test-email2@email.com")))
    }
    assert(e.getMessage.contains("Malformed Notification Definition"))
  }

  test("reference notification: disallowed smtp server raises") {
    disallowedConf {
      val e = intercept[NotifierConfigException] {
        EmailNotifier.sendNotification(EmailNotifier.createNotification(
          Map[String, Any](
            "server" -> "smtp.test.com", "port" -> "1025", "type" -> "email",
            "from" -> "test-email@email.com",
            "to" -> Seq("test-email1@email.com", "test-email2@email.com"),
            "mimetype" -> "text/text", "subject" -> "Test Email",
            "message" -> "Test message for the email.")))
      }
      assert(e.getMessage ==
        "Trying to use disallowed smtp server: 'smtp.test.com'.\n" +
          "Disallowed smtp servers: ['smtp.test.com']")
    }
  }

  // ---- send_notification facade (test_notification.py:193-316) --------

  test("reference notification facade: template email with to and cc") {
    withSmtp(10253) { smtp =>
      graft.Engine.sendNotification(TerminatorSpec("notify", Map[String, Any](
        "server" -> "localhost", "port" -> "10253", "type" -> "email",
        "template" -> "failure_notification_email",
        "from" -> "test-email@email.com",
        "to" -> Seq("test-email1@email.com", "test-email2@email.com"),
        "cc" -> Seq("test-email3@email.com", "test-email4@email.com"),
        "exception" -> "test-exception")))
      val (from, to, cc, _, mimetype, subject, message, _) =
        parseEmail(smtp.lastMessage)
      assert(from == "test-email@email.com")
      assert(to == Seq("test-email1@email.com", "test-email2@email.com"))
      assert(cc == Seq("test-email3@email.com", "test-email4@email.com"))
      // the template injects these into the notification, which is what
      // the reference driver reads back from the mutated args dict
      assert(mimetype == "text/text")
      assert(subject == "Service Failure")
      assert(message == ExpectedTemplateMessage)
    }
  }

  test("reference notification facade: bcc-only free form with attachments") {
    withSmtp(10254) { smtp =>
      graft.Engine.sendNotification(TerminatorSpec("notify", Map[String, Any](
        "server" -> "localhost", "port" -> "10254", "type" -> "email",
        "from" -> "test-email@email.com",
        "bcc" -> Seq("test-email1@email.com", "test-email2@email.com"),
        "mimetype" -> "text/text", "subject" -> "Test Email",
        "message" -> "Test message for the email.",
        "attachments" -> Seq(
          s"${attachmentsPath}test_attachement.txt",
          s"${attachmentsPath}test_image.png"))))
      val (_, _, _, bcc, mimetype, subject, message, attachments) =
        parseEmail(smtp.lastMessage)
      assert(bcc == Seq("test-email1@email.com", "test-email2@email.com"))
      assert(mimetype == "text/text")
      assert(subject == "Test Email")
      assert(message == "Test message for the email.")
      assert(attachments == Seq("test_attachement.txt", "test_image.png"))
    }
  }

  test("reference notification facade: missing template raises") {
    val e = intercept[NotifierTemplateNotFoundException] {
      graft.Engine.sendNotification(TerminatorSpec("notify", Map[String, Any](
        "server" -> "localhost", "port" -> "1025", "type" -> "email",
        "template" -> "missing_template")))
    }
    assert(e.getMessage.contains("Template missing_template does not exist"))
  }

  test("reference notification facade: malformed definition raises") {
    val e = intercept[NotifierConfigException] {
      graft.Engine.sendNotification(TerminatorSpec("notify", Map[String, Any](
        "server" -> "localhost", "port" -> "1025", "type" -> "email",
        "from" -> "test-email@email.com",
        "to" -> Seq("test-email1@email.com", "test-email2@email.com"))))
    }
    assert(e.getMessage.contains("Malformed Notification Definition"))
  }

  test("reference notification facade: disallowed smtp server raises") {
    disallowedConf {
      val e = intercept[NotifierConfigException] {
        graft.Engine.sendNotification(TerminatorSpec("notify", Map[String, Any](
          "server" -> "smtp.test.com", "port" -> "1025", "type" -> "email",
          "from" -> "test-email@email.com",
          "to" -> Seq("test-email1@email.com", "test-email2@email.com"),
          "mimetype" -> "plain", "subject" -> "Test Email",
          "message" -> "Test message for the email.")))
      }
      assert(e.getMessage ==
        "Trying to use disallowed smtp server: 'smtp.test.com'.\n" +
          "Disallowed smtp servers: ['smtp.test.com']")
    }
  }
}
