package vaero.fs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.LinkOption;
import java.nio.file.attribute.BasicFileAttributes;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * {@link RawLocalFileSystem} whose {@code setPermission} and
 * {@code getFileLinkStatus} use java.nio instead of forking {@code chmod} and
 * {@code readlink}, which the stock class does on every file create and
 * rename when {@code libhadoop.so} is absent. Results and file modes are the
 * stock ones.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    java.nio.file.Path file = pathToFile(p).toPath();
    // chmod(1) keeps a directory's set-id bits under a 4-digit octal mode;
    // sticky and set-id modes stay with the stock command
    if ((permission.toShort() & ~0777) != 0
        || ((Integer) Files.getAttribute(file, "unix:mode") & 07000) != 0) {
      super.setPermission(p, permission);
      return;
    }
    Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
        permission.getUserAction().SYMBOL + permission.getGroupAction().SYMBOL
            + permission.getOtherAction().SYMBOL));
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    // the stock method reads the link at new File(f.toString()), so a
    // qualified path ("file:/...") never reads as a symlink there either
    java.nio.file.Path link = new File(f.toString()).toPath();
    boolean isLink;
    try {
      isLink = Files.readAttributes(link, BasicFileAttributes.class, LinkOption.NOFOLLOW_LINKS)
          .isSymbolicLink();
    } catch (IOException e) {
      isLink = false; // where readlink(1) fails too
    }
    if (!isLink) {
      return getFileStatus(f);
    }
    Path target = new Path(Files.readSymbolicLink(link).toString());
    FileStatus st;
    try {
      FileStatus t = getFileStatus(f);
      st = new FileStatus(t.getLen(), false, t.getReplication(), t.getBlockSize(),
          t.getModificationTime(), t.getAccessTime(), t.getPermission(), t.getOwner(),
          t.getGroup(), target, f);
    } catch (FileNotFoundException e) {
      st = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "", target, f);
    }
    st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), st.getPath(), st.getSymlink()));
    return st;
  }
}
